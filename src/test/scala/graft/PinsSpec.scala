package graft

import org.apache.spark.sql.{DataFrame, GenericRowsSource, GraftBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the deterministic pin-release helpers (Pins.scala):
  * the bench/verify harnesses and every iterative operator depend on
  * these semantics — a silent no-op here re-opens the block-manager
  * leak that inflated heavy suite queries 4-18x. Assertions track the
  * SPECIFIC checkpoint RDD ids (never global persistent-RDD counts),
  * so concurrently running suites can pin freely without interference
  * either way. */
class PinsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def leafIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def awaitGone(ids: Seq[Int]): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (ids.exists(persisted) && System.nanoTime() < deadline)
      Thread.sleep(50) // unpersist(blocking = false) is async
    assert(!ids.exists(persisted), s"still persisted: ${ids.filter(persisted)}")
  }

  test("free releases a localCheckpoint pin; idempotent; no-op on plain frames") {
    import spark.implicits._
    val pinned = Seq(1, 2, 3).toDF("x").localCheckpoint()
    val ids = leafIds(pinned)
    assert(ids.nonEmpty && ids.forall(persisted))
    Pins.free(pinned)
    awaitGone(ids)
    Pins.free(pinned) // second free: harmless
    Pins.free(Seq(1).toDF("x")) // non-pinned plan: no-op, no error
  }

  test("free on a derived plan releases the checkpoint behind it") {
    import spark.implicits._
    val pinned = Seq(1, 2, 3).toDF("x").localCheckpoint()
    val derived = pinned.select(org.apache.spark.sql.functions.col("x") * 2)
    val ids = leafIds(derived)
    assert(ids.nonEmpty && ids.forall(persisted))
    Pins.free(derived) // the plan leaf IS the checkpoint RDD
    awaitGone(ids)
  }

  // ------------------------------------------ GraftBridge.pin, the one pin

  private def freeAll(ps: GraftBridge.Pin*): Unit = ps.foreach(p => Pins.free(p.df))

  private def values(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("pin: ONE job returns per-partition counts and the tally sum") {
    val df = spark.range(0, 10, 1, 3).toDF("x")
    val jobs = GroupJobs(spark, "pins-one-job")
    val sc = spark.sparkContext
    sc.setJobGroup(jobs.group, "pins spec")
    val p =
      try GraftBridge.pin(df, tally = row => row.getLong(0))
      finally sc.clearJobGroup()
    try {
      jobs.sync()
      assert(jobs.started.size == 1, "the pin ran more than one job")
      assert(p.counts.toSeq == Seq(3L, 3L, 4L)) // range splits 10 rows 3/3/4
      assert(p.tally == 45L) // Σ 0..9
      assert(p.rdd.exists(r => persisted(r.id)))
      assert(leafIds(p.df) == p.rdd.map(_.id).toSeq)
      assert(p.layout.map(_.toSeq) == Some(p.counts.toSeq))
      assert(values(p.df) == (0L until 10L))
    } finally {
      freeAll(p)
      jobs.close()
    }
  }

  test("pin literalizes a batch at or under the row cap and 1 MB") {
    val p = GraftBridge.pin(spark.range(0, 10, 1, 3).toDF("x"), literalRowCap = 10)
    assert(p.df.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(p.rdd.isEmpty && p.layout.isEmpty && leafIds(p.df).isEmpty)
    assert(p.counts.sum == 10L)
    assert(values(p.df) == (0L until 10L))
  }

  test("pin stays distributed past the row cap, past the byte gate, for any row format") {
    import org.apache.spark.sql.functions.{array_repeat, col}
    import org.apache.spark.sql.types._
    def distributed(p: GraftBridge.Pin): Boolean =
      p.rdd.isDefined && leafIds(p.df) == p.rdd.map(_.id).toSeq
    // one row past the cap
    val overRows = GraftBridge.pin(spark.range(0, 11, 1, 3).toDF("x"),
      literalRowCap = 10)
    // 40 rows far under the 8192-row cap, but 4096 doubles each put the
    // batch at ~1.3 MB: only the byte gate keeps it distributed
    val width = 4096
    val wide = GraftBridge.pin(spark.range(0, 40, 1, 4)
      .select(array_repeat(col("id").cast("double"), width).as("v")),
      literalRowCap = 8192)
    // the same bytes from a scan that hands the pin GenericInternalRows:
    // a per-row guess would miss their width, the UnsafeProjection
    // measure does not
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType))))
    def generic(n: Int) = GenericRowsSource.frame(spark, schema,
      (0 until n).map(i => Row(Seq.fill(width)(i.toDouble))), 4)
    assert(!generic(1).queryExecution.toRdd.first()
      .isInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow])
    val wideGeneric = GraftBridge.pin(generic(40), literalRowCap = 8192)
    // control: under the gate the same source literalizes
    val narrowGeneric = GraftBridge.pin(generic(4), literalRowCap = 8192)
    try {
      assert(distributed(overRows) && overRows.counts.sum == 11L)
      assert(distributed(wide) && wide.counts.sum == 40L)
      assert(distributed(wideGeneric) && wideGeneric.counts.sum == 40L)
      assert(narrowGeneric.rdd.isEmpty)
      assert(narrowGeneric.df.collect().map(_.getSeq[Double](0).head).sorted
        .toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    } finally freeAll(overRows, wide, wideGeneric)
  }

  // NOTE: Pins.sweep is deliberately NOT unit-tested here — it
  // unpersists EVERY persistent RDD in the session, and sbt runs
  // suites in parallel against the shared TestSpark session, so a
  // mid-run sweep would strand other suites' live pins (an
  // unpersisted localCheckpoint cannot be recomputed). The sweep path
  // is exercised where it is safe by design: between the independent
  // queries of the Bench and Verify mains.
}
