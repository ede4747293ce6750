package graft.streaming

import graft.exec.QueryEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingestion into an engine table — the optional
  * extension SURVEY §2.11 sketches (`spark.readStream` → event-log
  * append). The reference has no streaming surface at all; its closest
  * analogue is the replication framework that tails the ordered event
  * log (replication.rs). Here the SAME event-sourced storage accepts a
  * continuous source: each micro-batch becomes one INSERT event batch
  * with contiguous sequences, so everything downstream — state
  * collapse, FOR SYSTEM_TIME time travel, snapshots — works unchanged
  * on streamed data.
  *
  * Scale design: the micro-batch body runs on the driver but the data
  * never does — `ingestStream` hands the batch DataFrame straight to
  * the engine's stream publish (a literal batch stages on the driver,
  * anything else pins and writes distributed), so executors carry the
  * rows. Every micro-batch runs in the engine's batch envelope
  * (`Commit.writeBatch`), the one entry of every non-SQL write:
  * the write-lock monitor and the base-dir lock keep sequence
  * assignment single-writer per table, the discipline the reference
  * enforces with its process write lock (index.rs:22-26).
  *
  * Delivery is exactly-once across restarts: Spark's foreachBatch is
  * at-least-once (a micro-batch whose epoch wasn't checkpointed replays
  * after a crash), so the engine commits each batch's id in the SAME
  * atomic manifest as its events (keyed by the checkpoint location) and
  * the envelope skips any batch id at or below the committed one — the
  * Delta-commit idempotent-sink pattern. `sink` is the one
  * foreachBatch wiring the engine's streams share.
  */
object StreamIngest {

  /** Start ingesting `stream` (a streaming DataFrame whose columns are
    * the table's logical payload columns; extras are dropped, missing
    * ones land NULL) into `table` as INSERT events. */
  def start(
      engine: QueryEngine,
      table: String,
      stream: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "StreamIngest.start needs a streaming DataFrame")
    engine.catalog.require(table) // fail fast before the query starts
    sink(stream, checkpointDir, trigger) { (batch, batchId) =>
      engine.ingestStream(table, batch, Some(checkpointDir), batchId)
    }
  }

  /** The one foreachBatch wiring of every engine-bound stream (plain
    * ingest, both dedup ingests, replication): `stream` checkpointed at
    * `checkpointDir` under `trigger`, each micro-batch handed to
    * `batch` with its id. The checkpoint location doubles as the stream
    * id the engine's replay skip is keyed by. */
  private[streaming] def sink(stream: DataFrame, checkpointDir: String,
      trigger: Trigger)(batch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, batchId: Long) => batch(b, batchId) }
      .start()
}
