package graft.state

import graft.log.EventLog
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Descending, EqualTo, Expression, IsNotNull, Literal, PredicateHelper, RowNumber, SortOrder, UnsafeProjection, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Window => WindowNode, WindowGroupLimit}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, DecimalType, IntegerType, LongType, MapType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
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
  * no shuffle at all, and a pk point read of it no Spark job. Otherwise
  * the collapse variants below are a single hash shuffle on pk (all
  * windows share the partitioning, so Catalyst plans one Exchange).
  * `sequence` is monotonically increasing, so time-travel predicates
  * prune whole parquet files via min/max stats before any shuffle. A
  * pk point read of the keyed collapse (`stateAtKeyed`) at any
  * sequence needs no shuffle either: `KeyedCollapse` recognizes the
  * collapse in the optimized plan, and once `graft.exec.PointReads`
  * has read the few candidate events on the driver, `foldCollapse`
  * folds them with `foldTail` — the one driver-side fold, which
  * `overTail` uses too.
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
    val withK = events.withColumn(KeyCol, col(s"payload.`$pkPhysical`"))
    val byPk = Window.partitionBy(KeyCol)
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
        if (f == pkPhysical) col(KeyCol).as(f)
        else col(s"payload.`$f`").as(f))
        :+ col(OldWinCol) :+ col(NewWinCol): _*)
  }

  /** THE driver-side event fold — the live-epoch rules of `collapsedBy`
    * run over event rows held on the driver. Rows fold in sequence
    * order (`seq` and `kind` are their sequence and event-type
    * ordinals, `key` their key); per key, in the order keys are first
    * touched, the result holds the key's fold state and its last event
    * row:
    *   - `Some(true)`: live — the last INSERT outlives the last
    *     SOFT_DELETE, and the row is the live epoch's last event (the
    *     INSERT or a PATCH after it), whose payload is the full
    *     document;
    *   - `Some(false)`: deleted, row null. A PATCH after a SOFT_DELETE
    *     stays a no-op, as in the windowed fold;
    *   - `None`: only PATCHed — live iff a base state below the rows
    *     holds the key, with the last PATCH as its row.
    * Any type other than INSERT and SOFT_DELETE folds as a PATCH, as it
    * does in the window. Both driver reads use it: `overTail` over the
    * tail the driver wrote, and `foldCollapse` over the candidate events
    * of a pk point read. */
  private def foldTail(events: Seq[InternalRow], seq: Int, kind: Int,
      key: InternalRow => Any): Seq[(Any, Option[Boolean], InternalRow)] = {
    val st = scala.collection.mutable.LinkedHashMap
      .empty[Any, (Option[Boolean], InternalRow)]
    for (e <- events.sortBy(_.getLong(seq))) {
      val k = key(e)
      val t = e.getUTF8String(kind).toString
      st(k) =
        if (t == EventLog.INSERT) (Some(true), e)
        else if (t == EventLog.SOFT_DELETE) (Some(false), null)
        else st.get(k) match {
          case Some((Some(false), _)) => (Some(false), null)
          case Some((state, _)) => (state, e)
          case None => (None, e)
        }
    }
    st.iterator.map { case (k, (state, e)) => (k, state, e) }.toSeq
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
    // EventLog.schema rows, keyed on the top-level pk string
    val fold = foldTail(events, 0, 2, _.getUTF8String(3).toString)
    def payloadOf(e: InternalRow) = e.getStruct(4, payload.length)
    val liveRows = fold.collect { case (_, Some(true), e) => payloadOf(e) }
    val patchedRows = fold.collect { case (k: String, None, e) => (k, payloadOf(e)) }
    val live = GraftBridge.localFrame(spark, payload, liveRows)
    snapshot.fold(live) { snap =>
      val patched = patchedRows.map(_._1).toSet
      val gone = fold.map(_._1.asInstanceOf[String]).filterNot(patched)
      val kept = if (gone.isEmpty) snap else snap.where(!col("pk").isin(gone: _*))
      // per field, so the scan still reads only the payload fields a
      // query uses
      val patch = GraftBridge.column(Literal(
        new ArrayBasedMapData(
          new GenericArrayData(patchedRows.map(kp => UTF8String.fromString(kp._1))),
          new GenericArrayData(patchedRows.map(_._2))),
        MapType(StringType, payload))).getItem(col("pk"))
      val state = kept.select(payload.fieldNames.toIndexedSeq.map { f =>
        val stored = col(s"payload.`$f`")
        (if (f == pkPhysical || patched.isEmpty) stored
         else when(patch.isNotNull, patch.getField(f)).otherwise(stored)).as(f)
      }: _*)
      if (liveRows.isEmpty) state else state.unionByName(live)
    }
  }

  /** Winning event per live key (all windows share `key`'s hash
    * partitioning — one Exchange). `rn` names the row-number column. */
  private def collapsedBy(events: DataFrame, asOfSeq: Option[Long],
      key: String, rn: String = Rn): DataFrame = {
    val bounded = asOfSeq.fold(events)(s => events.where(col("sequence") <= s))
    val wDesc = Window.partitionBy(key).orderBy(col("sequence").desc)
    liveEpoch(bounded, key)
      .withColumn(rn, row_number().over(wDesc))
      .where(col(rn) === 1)
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
    * between a point lookup and a full-table replay; a literal-key
    * lookup then folds on the driver (`foldCollapse`). Equivalent to
    * keying on the top-level `pk` string: that column is the payload
    * pk cast to string, which is injective for every supported pk
    * type. `ordered` marks a read whose row order becomes event order:
    * its collapse folds on the driver only to at most one row, so that
    * larger batches keep the window's order whichever plan reads them. */
  def stateAtKeyed(events: DataFrame, asOfSeq: Option[Long],
      pkPhysical: String, ordered: Boolean = false): DataFrame = {
    val fields = events.schema("payload").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    val withK = events.withColumn(KeyCol, col(s"payload.`$pkPhysical`"))
    collapsedBy(withK, asOfSeq, KeyCol, if (ordered) OrderedRn else Rn)
      .select(fields.toIndexedSeq.map(f =>
        if (f == pkPhysical) col(KeyCol).as(f)
        else col(s"payload.`$f`").as(f)): _*)
  }

  /** The hidden window partition attribute of the keyed collapse (the
    * typed payload pk), by which `KeyedCollapse` finds it in a plan. */
  private val KeyCol = "__pkv"

  /** The row-number column of a collapse, and of an `ordered` keyed
    * collapse: one whose row order becomes event order (the engine's
    * dmlRead reads). */
  private final val Rn = "_rn"
  private final val OrderedRn = "_rn_ordered"

  /** A keyed collapse (`stateAtKeyed`) as Catalyst optimized it: `top`,
    * the filter on the winning row number `rn` over its row-number
    * Window; below it the live epoch's MAX windows with their
    * projections and filter, all partitioned by `key`; and under the
    * lowest window `input`, the event rows, already cut by the pk
    * predicate and sequence bounds pushed below the windows. `seq` is
    * the input's sequence attribute. */
  final case class Collapse private[StateView] (top: Filter, rn: Attribute,
      key: Attribute, seq: Attribute, ordered: Boolean, input: LogicalPlan,
      private val chain: Seq[LogicalPlan]) {
    /** The same collapse over another input with the same output. */
    def withInput(in: LogicalPlan): LogicalPlan =
      chain.foldRight(in)((node, child) => node.withNewChildren(Seq(child)))
  }

  /** Recognizes a keyed collapse in an optimized plan (see `Collapse`).
    * Every node between the row-number window and the input must be a
    * MAX window or a group limit on the key, a projection, or a filter
    * whose conjuncts are null checks or read a window's result; any
    * other shape is not matched. */
  object KeyedCollapse extends PredicateHelper {
    def unapply(plan: LogicalPlan): Option[Collapse] = plan match {
      case top @ Filter(cond, w: WindowNode) => for {
        rnAlias <- w.windowExpressions match {
          case Seq(a @ Alias(WindowExpression(_: RowNumber, _), n))
              if n == Rn || n == OrderedRn => Some(a)
          case _ => None
        }
        key <- w.partitionSpec match {
          case Seq(k: Attribute) if k.name == KeyCol => Some(k)
          case _ => None
        }
        seq <- w.orderSpec match {
          case Seq(SortOrder(s: Attribute, Descending, _, _))
              if s.name == "sequence" => Some(s)
          case _ => None
        }
        rn = rnAlias.toAttribute
        if splitConjunctivePredicates(cond).exists {
          case EqualTo(a: Attribute, Literal(1, IntegerType)) => a.exprId == rn.exprId
          case _ => false
        }
        below <- machinery(w.child, key)
      } yield Collapse(top, rn, key, seq, rnAlias.name == OrderedRn,
        below.last.children.head, top +: w +: below)
      case _ => None
    }

    /** The unary nodes from `p` down to the lowest window on `key` —
      * None when there is none, or when a window or a filter among them
      * is not the collapse's. */
    private def machinery(p: LogicalPlan, key: Attribute): Option[List[LogicalPlan]] = {
      def onKey(spec: Seq[Expression]) = spec match {
        case Seq(k: Attribute) => k.exprId == key.exprId
        case _ => false
      }
      val unary = Iterator.iterate(p)(_.children.head).takeWhile {
        case _: WindowNode | _: WindowGroupLimit | _: Project | _: Filter => true
        case _ => false
      }.toList
      val nodes = unary.take(unary.lastIndexWhere(_.isInstanceOf[WindowNode]) + 1)
      val windowOut = AttributeSet(nodes.collect { case w: WindowNode => w.windowOutputSet }
        .flatMap(_.toSeq))
      Option.when(nodes.nonEmpty && nodes.forall {
        case w: WindowNode => onKey(w.partitionSpec) && w.orderSpec.isEmpty &&
          w.windowExpressions.forall {
            case Alias(WindowExpression(ae: AggregateExpression, _), _) =>
              ae.aggregateFunction.isInstanceOf[Max]
            case _ => false
          }
        case g: WindowGroupLimit => onKey(g.partitionSpec)
        case f: Filter => splitConjunctivePredicates(f.condition).forall(c =>
          c.isInstanceOf[IsNotNull] || c.references.intersect(windowOut).nonEmpty)
        case pr: Project => pr.projectList.forall(_.deterministic)
        case _ => false
      })(nodes)
    }
  }

  /** `c` folded on the driver over its input's rows (`foldTail`): each
    * live key's winning event in the collapse's output layout, under
    * its top filter. None when the fold does not apply: an ordered
    * collapse with more than one winner (its row order is the window's
    * to give), an output column the windows compute, a key type whose
    * boxed values do not compare as SQL does, or input rows without
    * the event columns. */
  def foldCollapse(c: Collapse, input: LocalRelation): Option[LogicalPlan] = {
    val in = input.output
    def at(a: Attribute) = in.indexWhere(_.exprId == a.exprId)
    val (seqI, keyI, kindI) = (at(c.seq), at(c.key), in.indexWhere(_.name == "event_type"))
    val outs = c.top.output
    val keyType = c.key.dataType
    val comparable = keyType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
          DateType | TimestampType | TimestampNTZType | _: DecimalType => true
      case st: StringType => st == StringType
      case _ => false
    }
    if (seqI < 0 || keyI < 0 || kindI < 0 || !comparable ||
        !outs.forall(a => a.exprId == c.rn.exprId || at(a) >= 0)) None
    else {
      val winners = foldTail(input.data, seqI, kindI, _.get(keyI, keyType))
        .collect { case (_, Some(true), e) => e }
      Option.when(!c.ordered || winners.length <= 1) {
        val proj = UnsafeProjection.create(
          outs.map(a => if (a.exprId == c.rn.exprId) Literal(1) else a), in)
        Filter(c.top.condition, LocalRelation(outs, winners.map(proj(_).copy())))
      }
    }
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
