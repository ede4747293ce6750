package graft.state

import graft.log.EventLog
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** State reconstruction over an event log — the engine's one genuinely
  * custom operator (SURVEY §7.3).
  *
  * Reference semantics (table_storage.rs:344-428, reconstruct_state_at):
  * fold events in sequence order up to a target sequence; INSERT
  * replaces the document, PATCH merges into an *existing* row (a PATCH
  * on an absent key is a no-op — table_storage.rs:373-390), SOFT_DELETE
  * removes. So a key is live iff its latest INSERT is more recent than
  * its latest SOFT_DELETE, and its value is determined entirely by the
  * events from that INSERT onward (the "live epoch"): the INSERT's full
  * document plus any later PATCHes. Patches that arrive after a delete
  * but before the next insert never resurrect the row.
  *
  * Scale: a read is the nearest snapshot plus the events after it.
  * When the driver holds those events itself (the engine keeps the
  * literal batches it wrote since the newest snapshot), `overTail`
  * folds them on the driver and the read is a flat snapshot scan with
  * no shuffle at all, and a pk point read of it no Spark job. Otherwise the collapse variants below are a
  * single hash shuffle on pk (all windows share the partitioning, so
  * Catalyst plans one Exchange). `sequence` is monotonically
  * increasing, so time-travel predicates prune whole parquet files via
  * min/max stats before any shuffle.
  */
object StateView {

  /** Current state: latest non-deleted payload per primary key. */
  def state(events: DataFrame): DataFrame = stateAt(events, None)

  /** Restrict an event frame to the live epoch of each key: the events
    * from the most recent INSERT (<= the target sequence) onward, and
    * only for keys whose last INSERT outlives their last SOFT_DELETE. */
  private def liveEpoch(bounded: DataFrame, key: String): DataFrame = {
    val byPk = Window.partitionBy(key)
    val lastIns = max(when(col("event_type") === EventLog.INSERT,
      col("sequence"))).over(byPk)
    val lastDel = max(when(col("event_type") === EventLog.SOFT_DELETE,
      col("sequence"))).over(byPk)
    bounded
      .withColumn("_li", lastIns)
      .withColumn("_ld", coalesce(lastDel, lit(Long.MinValue)))
      .where(col("_li").isNotNull && col("_li") > col("_ld") &&
        col("sequence") >= col("_li"))
  }

  /** Flag columns of the two-bound collapse: which horizon(s) a
    * winner row serves. In graft's hidden-column namespace so no user
    * payload field can collide. */
  val OldWinCol = "__graft_ow"
  val NewWinCol = "__graft_nw"

  /** TWO-BOUND keyed collapse (round 16): the winning event per live
    * pk at BOTH an old bound `r` and the new bound (the frame's own
    * upper edge — callers pre-filter `events` to sequence <= h) from
    * ONE scan and ONE pk Exchange, flagged `OldWinCol` / `NewWinCol`.
    * An incremental refresh reads the old- and new-horizon states of
    * the same touched pks; as separate collapses that is two scans
    * and two shuffles of the same rows. Here every live-epoch bound
    * (last INSERT / last SOFT_DELETE / max sequence, each also
    * conditioned on <= r) comes from plain MAX aggregates over one
    * unbounded pk window — no sort, unlike the row_number collapse —
    * and a row wins a bound iff it IS that bound's max-sequence event
    * of a live epoch. Winner payloads are full documents (the SQL
    * layer emits full-row patches), so semantics match two
    * `stateAtKeyed` calls exactly; a pk absent at a bound (inserted
    * later, or deleted before it) simply flags no row for it. */
  def twoBoundKeyed(events: DataFrame, r: Long,
      pkPhysical: String): DataFrame = {
    val fields = events.schema("payload").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    val withK = events.withColumn("__pkv", col(s"payload.`$pkPhysical`"))
    val byPk = Window.partitionBy("__pkv")
    def pkMax(c: Column): Column = max(c).over(byPk)
    val isIns = col("event_type") === EventLog.INSERT
    val isDel = col("event_type") === EventLog.SOFT_DELETE
    val atOld = col("sequence") <= r
    val liNew = pkMax(when(isIns, col("sequence")))
    val ldNew = coalesce(pkMax(when(isDel, col("sequence"))),
      lit(Long.MinValue))
    val liOld = pkMax(when(isIns && atOld, col("sequence")))
    val ldOld = coalesce(pkMax(when(isDel && atOld, col("sequence"))),
      lit(Long.MinValue))
    val mxNew = pkMax(col("sequence"))
    val mxOld = pkMax(when(atOld, col("sequence")))
    withK
      .withColumn(OldWinCol,
        liOld.isNotNull && liOld > ldOld && col("sequence") === mxOld)
      .withColumn(NewWinCol,
        liNew.isNotNull && liNew > ldNew && col("sequence") === mxNew)
      .where(col(OldWinCol) || col(NewWinCol))
      .select(fields.toIndexedSeq.map(f =>
        if (f == pkPhysical) col("__pkv").as(f)
        else col(s"payload.`$f`").as(f))
        :+ col(OldWinCol) :+ col(NewWinCol): _*)
  }

  /** A driver-side fold of event rows above a base state, keyed on the
    * top-level `pk` string (see `collapsedFrames`):
    *   - `live`: payload rows of keys whose latest INSERT in the rows
    *     outlives their latest SOFT_DELETE — each the key's last event;
    *   - `patched`: (pk, payload) of keys the rows only PATCH. Such a
    *     key is live iff the base state holds it, with the last
    *     PATCH's payload as its row;
    *   - `keys`: every key the rows touch. The base state's row of
    *     such a key is superseded by the above, or deleted.
    * These are the live-epoch rules of `collapsedBy` applied to base +
    * rows, given that every base row is an INSERT older than the rows. */
  private final case class TailFold(live: Seq[InternalRow],
      patched: Seq[(String, InternalRow)], keys: Seq[String])

  /** Fold event rows (`EventLog.schema` layout, payload of `nFields`
    * fields) in sequence order. A PATCH after a SOFT_DELETE stays a
    * no-op, as in the windowed fold; any type other than INSERT and
    * SOFT_DELETE folds as a PATCH, as it does there. */
  private def foldTail(events: Seq[InternalRow], nFields: Int): TailFold = {
    // per key: Some(true) live, Some(false) deleted, None patch-only
    val st = scala.collection.mutable.LinkedHashMap
      .empty[String, (Option[Boolean], InternalRow)]
    for (e <- events.sortBy(_.getLong(0))) {
      val k = e.getUTF8String(3).toString
      val kind = e.getUTF8String(2).toString
      st(k) =
        if (kind == EventLog.INSERT) (Some(true), e.getStruct(4, nFields))
        else if (kind == EventLog.SOFT_DELETE) (Some(false), null)
        else st.get(k) match {
          case Some((Some(false), _)) => (Some(false), null)
          case Some((state, _)) => (state, e.getStruct(4, nFields))
          case None => (None, e.getStruct(4, nFields))
        }
    }
    TailFold(
      st.valuesIterator.collect { case (Some(true), p) => p }.toSeq,
      st.iterator.collect { case (k, (None, p)) => (k, p) }.toSeq,
      st.keys.toSeq)
  }

  /** The state at a bound from a snapshot (its INSERT frames, each live
    * pk once; None = empty state) and the exact events between the
    * snapshot and the bound, held on the driver (`EventLog.schema`
    * rows). The events fold on the driver (`foldTail`) and the result
    * is a FLAT plan over the payload columns:
    *   - the snapshot scan minus the keys the events supersede or
    *     delete;
    *   - a key the events only PATCH keeps its snapshot row — it is
    *     live iff the snapshot holds it — with the last PATCH's values,
    *     looked up field by field in a literal map keyed on pk;
    *   - union the events' live rows as a LocalRelation.
    * No window, no exchange and no broadcast, so a read runs one job
    * (none without a snapshot). The pk column is the scan's own, so a
    * pk predicate pushes into the snapshot scan and prunes the
    * LocalRelation on the driver. A pk point read goes further: the
    * tagged snapshot scan (`Snapshots.read`) becomes the rows of the
    * row groups that can hold the key, decoded on the driver within a
    * byte budget (`graft.exec.PointReads`), and the filter, the PATCH
    * lookup and the union fold at optimize time — the read runs no
    * Spark job at all. */
  def overTail(spark: SparkSession, snapshot: Option[DataFrame],
      events: Seq[InternalRow], payload: StructType,
      pkPhysical: String): DataFrame = {
    val fold = foldTail(events, payload.length)
    val live = GraftBridge.localFrame(spark, payload, fold.live)
    snapshot.fold(live) { snap =>
      val patched = fold.patched.map(_._1).toSet
      val gone = fold.keys.filterNot(patched)
      val kept = if (gone.isEmpty) snap else snap.where(!col("pk").isin(gone: _*))
      // per field, so the scan still reads only the payload fields a
      // query uses
      val patch = GraftBridge.column(Literal(
        new ArrayBasedMapData(
          new GenericArrayData(fold.patched.map(kp => UTF8String.fromString(kp._1))),
          new GenericArrayData(fold.patched.map(_._2))),
        MapType(StringType, payload))).getItem(col("pk"))
      val state = kept.select(payload.fieldNames.toIndexedSeq.map { f =>
        val stored = col(s"payload.`$f`")
        (if (f == pkPhysical || patched.isEmpty) stored
         else when(patch.isNotNull, patch.getField(f)).otherwise(stored)).as(f)
      }: _*)
      if (fold.live.isEmpty) state else state.unionByName(live)
    }
  }

  /** Winning event per live key (all windows share `key`'s hash
    * partitioning — one Exchange). */
  private def collapsedBy(events: DataFrame, asOfSeq: Option[Long],
      key: String): DataFrame = {
    val bounded = asOfSeq.fold(events)(s => events.where(col("sequence") <= s))
    val wDesc = Window.partitionBy(key).orderBy(col("sequence").desc)
    liveEpoch(bounded, key)
      .withColumn("_rn", row_number().over(wDesc))
      .where(col("_rn") === 1)
  }

  /** Winning event frame per live pk as of a sequence: the single
    * event whose payload is the row's current full document. Used by
    * both `stateAt` (projects the payload) and snapshotting (rewrites
    * the frame as INSERT checkpoint rows). */
  def collapsedFrames(events: DataFrame, asOfSeq: Option[Long]): DataFrame =
    collapsedBy(events, asOfSeq, "pk")
      .select(col("sequence"), col("ts"), col("event_type"), col("pk"),
        col("payload"))

  /** State as of a sequence number (inclusive). None = current. */
  def stateAt(events: DataFrame, asOfSeq: Option[Long]): DataFrame =
    collapsedFrames(events, asOfSeq).select(col("payload.*"))

  /** `stateAt` with the collapse keyed on the TYPED payload pk field —
    * and, critically, with the output pk column being the partition
    * attribute itself. Catalyst pushes a predicate through a Window
    * only when it references partition ATTRIBUTES, so with this shape
    * a point lookup (`WHERE k = 5`) or pk range travels below the
    * collapse into the parquet scan: nested pushdown prunes row groups
    * by min/max (and the pk's bloom filter when indexed) instead of
    * collapsing the whole log first. At 100 TB this is the difference
    * between a point lookup and a full-table replay. Equivalent to
    * keying on the top-level `pk` string: that column is the payload
    * pk cast to string, which is injective for every supported pk
    * type. */
  def stateAtKeyed(events: DataFrame, asOfSeq: Option[Long],
      pkPhysical: String): DataFrame = {
    val fields = events.schema("payload").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    val withK = events.withColumn("__pkv", col(s"payload.`$pkPhysical`"))
    collapsedBy(withK, asOfSeq, "__pkv")
      .select(fields.toIndexedSeq.map(f =>
        if (f == pkPhysical) col("__pkv").as(f)
        else col(s"payload.`$f`").as(f)): _*)
  }

  /** Resolve a timestamp to the max sequence whose event ts <= target
    * (engine.rs:2010 seq-from-ts), then reconstruct. The resolution is
    * an eager scalar action on purpose: it yields a LITERAL sequence
    * bound, so at 100 TB the main read prunes parquet files statically
    * on the sequence column instead of carrying a runtime join. Returns
    * empty state when no event precedes the timestamp. */
  def stateAsOfTimestamp(events: DataFrame, ts: Column): DataFrame = {
    val maxSeq = events
      .where(col("ts") <= ts.cast("timestamp"))
      .agg(max("sequence")).head()
    if (maxSeq.isNullAt(0)) stateAt(events.where(lit(false)), None)
    else stateAt(events, Some(maxSeq.getLong(0)))
  }

  /** Partial-patch fidelity variant (raw engine API parity —
    * table_storage.rs:364-427): per-column last non-null value over
    * ascending sequence *within the live epoch* — the fold starts at
    * the epoch's INSERT (a full document in the reference), so columns
    * from a deleted-and-reinserted row never leak across the delete,
    * and pre-insert patches stay no-ops. */
  def stateMergingPatches(events: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val wAsc = Window.partitionBy("pk").orderBy("sequence")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy("pk").orderBy(col("sequence").desc)
    val merged = payloadCols.map(c =>
      last(col(s"payload.$c"), ignoreNulls = true).over(wAsc).as(c))
    liveEpoch(events, "pk")
      .select(Seq(col("pk"), col("sequence")) ++ merged: _*)
      .withColumn("_rn", row_number().over(wDesc))
      .where(col("_rn") === 1)
      .select(payloadCols.map(col).toIndexedSeq: _*)
  }

  /** FOR SYSTEM_TIME ALL / drift history (sql_bridge.rs:6494-6556):
    * the framed event stream itself, optionally per key. */
  def history(events: DataFrame, pk: Option[Column] = None): DataFrame = {
    val base = pk.fold(events)(p => events.where(col("pk") === p.cast("string")))
    base.select(col("sequence"), col("ts"), col("event_type"), col("pk"),
      col("payload"))
  }

  /** FOR SYSTEM_TIME FROM..TO superset (parsed-but-unsupported in the
    * reference — README.md:94-96): events in a sequence range. */
  def changesBetween(events: DataFrame, fromSeq: Long, toSeq: Long): DataFrame =
    events.where(col("sequence").between(fromSeq, toSeq))
}
