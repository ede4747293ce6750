package graft.log

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-sourced table representation (SURVEY §1.1).
  *
  * A table is an append-only log of events, mirroring the reference's
  * three event types (events.rs:5-10): INSERT (full document), PATCH
  * (partial/full update by primary key), SOFT_DELETE (tombstone). An
  * event carries (sequence, ts, event_type, pk, payload) —
  * events.rs:12-20 — with `payload` a typed struct rather than the
  * reference's JSON document.
  *
  * Scale design: the log lives in parquet partitioned by a bucket of
  * the primary key, so state collapse (StateView) shuffles at most once
  * on pk and time-travel reads prune on the `sequence` column via
  * parquet min/max statistics. Sequence assignment is a single-writer
  * concern in the reference too (process-global write lock,
  * index.rs:22-26) — here the writer assigns monotonic sequence ranges
  * per committed batch (see graft.exec.QueryEngine).
  */
object EventLog {

  /** Epoch for the deterministic logical event clock: event ts =
    * 2020-01-01T00:00:00Z + sequence seconds. The reference stamps wall
    * clock (events.rs:12-20); a sequence-derived clock keeps ts
    * monotonic with sequence (which wall clock also guarantees under
    * the reference's single writer) while making AS-OF-timestamp reads
    * reproducible. */
  val ClockEpoch: Long = 1577836800L
  val INSERT = "INSERT"
  val PATCH = "PATCH"
  val SOFT_DELETE = "SOFT_DELETE"

  /** Event-log columns that frame the payload. */
  val frameColumns: Seq[String] = Seq("sequence", "ts", "event_type", "pk")

  def schema(payload: StructType): StructType = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("pk", StringType, nullable = false),
    StructField("payload", payload, nullable = true)))

  /** Wrap a batch of rows as events: every row becomes one event of
    * `eventType` with the given sequence expression. `pkCol` is the
    * table's single primary-key column (schema.rs:56-79 — single-column
    * pk is mandatory in the reference). */
  def fromBatch(
      batch: DataFrame,
      pkCol: String,
      seq: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column,
      eventType: String): DataFrame = {
    val payload = struct(batch.columns.map(col).toIndexedSeq: _*)
    batch.select(
      seq.cast("long").as("sequence"),
      ts.cast("timestamp").as("ts"),
      lit(eventType).as("event_type"),
      col(pkCol).cast("string").as("pk"),
      payload.as("payload"))
  }

  /** Assign contiguous sequences base+1 .. base+count to a batch as
    * column `colName`; returns the frame and the count. Assignment
    * stays lazy — it runs inside whatever action consumes the frame
    * (usually the parquet write), never collapsing to a single
    * partition (a window-based row_number would). The write path is
    * driver-serialized — same single-writer discipline as the
    * reference (index.rs:22-26) — so contiguity per batch is safe.
    *   - `layout` (a distributed pin's per-partition counts, see
    *     GraftBridge.pin) gives the offsets with no job;
    *   - a `literal` batch (the caller found its plan optimizes to a
    *     LocalRelation) is sequenced on the driver: executeCollect is
    *     job-free on a LocalTableScan, and the result goes back out as
    *     a LocalRelation — no partition-counts job (and its ~200 ms of
    *     per-statement floor) for a VALUES insert;
    *   - anything else pays ONE per-partition count job for offsets
    *     and size together (what zipWithIndex does internally).
    * The batch must be pinned (GraftBridge.pin) by the caller: the
    * offsets are computed once, so the row-to-partition mapping must
    * not change between the count and the consuming action. */
  def assignSequences(batch: DataFrame, base: Long,
      layout: Option[Array[Long]], literal: Boolean,
      colName: String = "sequence"): (DataFrame, Long) =
    layout.map(cs => (assignWithOffsets(batch, base, cs, colName), cs.sum))
      .getOrElse(if (literal) {
        val rows = batch.collect()
        val out = StructType(batch.schema.fields :+
          StructField(colName, LongType, nullable = false))
        val seqd: java.util.List[Row] = java.util.Arrays.asList(
          rows.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq :+ (base + i + 1L)) }.toIndexedSeq: _*)
        (batch.sparkSession.createDataFrame(seqd, out), rows.length.toLong)
      } else {
        val counts = partitionCounts(batch)
        (assignWithOffsets(batch, base, counts, colName), counts.sum)
      })

  /** Batches at or under this row count publish as a single staged
    * parquet file (one write task, one rename, one file for every
    * later log scan to open) instead of one near-empty part-file per
    * pinned partition. Well under a single task's comfortable write
    * volume; larger batches keep the parallel multi-file write. */
  val SmallBatchRows = 100000L

  /** One job: per-partition row counts (the offsets zipWithIndex would
    * compute internally, surfaced so the total is free). */
  def partitionCounts(batch: DataFrame): Array[Long] =
    batch.rdd
      .mapPartitions(it => Iterator.single(it.size.toLong), preservesPartitioning = true)
      .collect()

  /** Attach `colName` = base+1 .. base+sum(counts) using precomputed
    * partition counts — lazy, distributed, no extra job. */
  def assignWithOffsets(batch: DataFrame, base: Long, counts: Array[Long],
      colName: String = "sequence"): DataFrame = {
    val out = StructType(batch.schema.fields :+
      StructField(colName, LongType, nullable = false))
    val offsets = counts.scanLeft(0L)(_ + _)
    val zipped = batch.rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = base + offsets(pi)
      it.map { row => i += 1; Row.fromSeq(row.toSeq :+ i) }
    }
    batch.sparkSession.createDataFrame(zipped, out)
  }
}
