package graft.streaming

import graft.exec.QueryEngine
import graft.log.EventLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** CDC: a streaming subscription to one table's ordered change feed —
  * the Spark-native twin of the reference's replication stream, which
  * tails the event log and ships every committed event to followers
  * (replication.rs:276-297; the events themselves are
  * events.rs:13-56's INSERT/PATCH/SOFT_DELETE).
  *
  * The engine's publish protocol makes this free: committed batches
  * land in the table's log directory as complete parquet files via one
  * atomic rename (Commit.publishAtomic), so a Structured
  * Streaming file source on that directory sees each batch exactly
  * when it commits, whole-or-not-at-all. No server, no socket, no
  * driver-side data path — subscribers are ordinary Spark queries with
  * their own checkpoints, and N subscribers cost the writer nothing
  * (the reference's master pushes to each replica over TCP).
  *
  * Delivery is exactly-once per subscriber checkpoint: the file source
  * records processed files, so a restarted subscriber resumes where it
  * stopped. Ordering: events carry `sequence`; a consumer that needs
  * total order sorts within its micro-batch (cross-batch order is
  * already monotone because files publish in sequence order under the
  * engine's single-writer lock).
  */
object TableChanges {

  /** A streaming DataFrame of `table`'s changes: frame columns
    * (sequence, ts, event_type, pk) plus the payload flattened to
    * logical column names. `fromSeq` skips the prefix (already-
    * consumed history); `maxFilesPerTrigger` paces backfill. */
  def stream(engine: QueryEngine, table: String, fromSeq: Long = 0L,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val t = engine.catalog.require(table)
    require(t.attached.isEmpty,
      s"table $table is an attached in-memory log; CDC needs the parquet log")
    val dir = engine.catalog.logPath(table)
    // the log dir appears on first publish; a subscription may start
    // before any write, so materialize the (empty) directory up front
    val p = new Path(dir)
    val fs = p.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.mkdirs(p)
    val reader = engine.spark.readStream
      .schema(EventLog.schema(t.payloadSchema))
    val paced = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
    val raw = paced.parquet(dir)
    val cols = Seq(col("sequence"), col("ts"), col("event_type"), col("pk")) ++
      t.columns.map(c => col(s"payload.${c.physical}").as(c.logical))
    raw.where(col("sequence") > fromSeq).select(cols: _*)
  }
}
