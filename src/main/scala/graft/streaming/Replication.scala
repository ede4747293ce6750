package graft.streaming

import graft.exec.QueryEngine
import graft.log.EventLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Replication — the data path of the reference's master/replica
  * framework (replication.rs:276-297 tails the event log and ships
  * every committed event to followers; bootstrap is snapshot + stream).
  * Spark-native shape: the primary's atomic publish log IS the
  * replication stream (see TableChanges), so a follower is an ordinary
  * Structured Streaming query that applies each committed batch
  * VERBATIM into the replica's log — sequences, timestamps, event
  * types, payloads all preserved — and the replica serves identical
  * current-state AND temporal (`FOR SYSTEM_TIME`) queries.
  *
  * Bootstrap: restore a backup of the primary into the replica dir
  * (`RESTORE DATABASE FROM ...`), then `follow` — it resumes from the
  * replica's own last sequence, so the restored prefix never
  * re-applies. Failover: close the primary and write to the replica —
  * its sequence counters continue from the replicated high-water mark
  * (the reference's promote path, failover.rs).
  *
  * Delivery is exactly-once per checkpoint: each applied batch runs in
  * the replica's batch envelope (`QueryEngine.writeBatch`, shared with
  * every stream and the data-source write), which takes the replica's
  * base-dir lock, skips a replayed batch id, records a trace and runs
  * the AUTOREFRESH due check; the batch id commits inside the SAME
  * atomic manifest as its events (the StreamIngest idempotent-sink
  * pattern), so crash-replays skip. Leadership/consensus (raft.rs) is
  * out of scope — the base-dir write lock already guarantees at most
  * one live writer per dir.
  */
object Replication {

  /** Follow one primary table into a replica engine. The replica must
    * already have the table (bootstrap from a backup); apply resumes
    * past `replica.catalog.lastSeq(table)`. */
  def follow(
      primary: QueryEngine,
      replica: QueryEngine,
      table: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val t = primary.catalog.require(table)
    require(t.attached.isEmpty, s"cannot replicate attached table $table")
    require(replica.catalog.get(table).isDefined,
      s"replica has no table $table — bootstrap it from a backup first")
    val fromSeq = replica.catalog.lastSeq(table)
    // register the link on both engines so SHOW CLUSTER can surface
    // applied-vs-high-water lag from either side
    replica.registerFollow(table, primary)
    val dir = primary.catalog.logPath(table)
    val p = new Path(dir)
    val fs = p.getFileSystem(primary.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.mkdirs(p)
    // the RAW event frame (payload struct, physical names) — apply is
    // byte-for-byte the primary's events, not a re-derivation
    val events = primary.spark.readStream
      .schema(EventLog.schema(t.payloadSchema))
      .parquet(dir)
      .where(col("sequence") > fromSeq)
    StreamIngest.sink(events, checkpointDir, trigger) { (batch, batchId) =>
      replica.applyReplicated(table, batch, checkpointDir, batchId)
    }
  }
}
