package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic release of pinned batches.
  *
  * A pin is a frame whose plan leaf is a LogicalRDD over blocks held in
  * executor storage. The engine makes pins one way —
  * `org.apache.spark.sql.GraftBridge.pin`, which materializes the
  * blocks and folds the row counts plus one caller tally into the same
  * job — and the operators also make plain `localCheckpoint` pins.
  * Spark's ContextCleaner frees either kind only after a DRIVER GC
  * collects the RDD object — which a large-heap driver may not run for
  * hundreds of queries. Over a long suite the stranded pins saturate
  * the block manager and unrelated queries pay eviction + GC (bench
  * r9: heavy queries inflated 4-18x over their solo cost). These
  * helpers free pins the moment their data is provably dead instead of
  * waiting for a GC that may never come.
  *
  * Safety rule: only free a pin once nothing will scan it again (e.g.
  * the next iteration's pin has materialized, or the result has been
  * collected). A localCheckpoint truncates lineage, so a freed one
  * CANNOT be recomputed; a GraftBridge pin keeps its lineage, but a
  * recompute would re-read sources that may have moved on — a DML
  * batch's source is the very log the statement appends to.
  */
object Pins {

  /** Unpersist every checkpoint RDD among `df`'s plan leaves
    * (blocking = false). No-op for plans without checkpointed leaves;
    * idempotent — a second free of the same pin does nothing. */
  def free(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        scala.util.Try(r.rdd.unpersist(blocking = false))
      case _ => ()
    }

  /** Unpersist EVERY persistent RDD in the session — the between-
    * queries sweep for harnesses (Bench, Verify) whose queries are
    * independent: after a query's result is consumed, nothing it
    * pinned or cached can be referenced again. */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => scala.util.Try(r.unpersist(blocking = false)))
}
