package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance (IVM) for the restricted
  * view shape that maintains EXACTLY under inserts, updates and
  * deletes:
  *
  *   SELECT g1, ..., gk, COUNT(*) AS a, COUNT(e) AS b, SUM(e) AS c,
  *          AVG(e) AS d, ...
  *   FROM <engine table> [JOIN <table> ON <t1>.<c> = <t2>.<c> ...]
  *   [WHERE <pred>] GROUP BY g1, ..., gk
  *   [HAVING <pred over the view's OUTPUT columns>]
  *
  * HAVING is a READ-TIME filter: the stored parquet keeps every group
  * (plus the hidden accumulators), because a group outside the
  * predicate today can cross into it after any delta — filtering at
  * storage would lose the state needed to re-admit it. The predicate
  * may reference the view's output columns (the aggregate ALIASES)
  * or state aggregate CALLS directly (`HAVING COUNT(*) >= 2`,
  * standard SQL, round 15) — calls rewrite to hidden maintained
  * accumulators (rewriteHaving) that merge like visible aggregates
  * and strip from the read output.
  *
  * COUNT and SUM are the self-maintainable aggregates: a row's
  * contribution can be subtracted as well as added, so the view merges
  * old-state and new-state contributions of only the TOUCHED rows.
  * AVG maintains through the standard SUM/COUNT rewrite: the stored
  * parquet carries hidden `__graft_s_<alias>` (sum) and
  * `__graft_n_<alias>` (non-null count) accumulators and the visible
  * column is ALWAYS one division of those — CREATE, full REFRESH and
  * the incremental merge all evaluate the identical `sum / count`
  * expression over identical types, so incremental and full outputs
  * agree bit-for-bit (integer/decimal sums are exact; the division is
  * a single deterministic op — never Spark's order-dependent running
  * double average).
  * MIN/MAX are not maintainable from the view OUTPUT alone under
  * retractions (the classic IVM result; cf. the view-maintenance
  * literature, e.g. Gupta & Mumick's survey) — so they ride the same
  * hidden per-(group, value) aux frame as COUNT(DISTINCT) (round 15):
  * the aux records every value's live support, a delete that retracts
  * the stored extreme just removes its aux entry, and the overlay
  * re-derives the extreme over the group's SURVIVING values — exact
  * under arbitrary updates and deletes, O(touched) per refresh, no
  * append precondition. (Rounds 13–14 instead gated MIN/MAX behind an
  * every-touched-pk-is-new probe; the aux frame deleted that gate and
  * its per-refresh probe job, and made MIN/MAX views AUTOREFRESH-able.)
  * APPROX_COUNT_DISTINCT stores a hidden
  * mergeable DataSketches HLL sketch (`__graft_hll_<alias>`) and the
  * visible column is its estimate; inserts union into the sketch
  * (max-per-register — commutative and order-free, so the ESTIMATE of
  * an incremental union equals the full-refresh estimate exactly,
  * even though serialized sketch BYTES are partition-order-dependent).
  * A sketch cannot RETRACT a value, so the engine probes the refresh's
  * old side: when no touched row was contributing at the old horizon
  * (the common append path) the cheap union stands, and when one was,
  * only the TOUCHED groups' sketches recompute from current state
  * filtered to those groups (recomputeSketches/overlaySketches —
  * full-refresh
  * semantics per touched group; the filter bounds the re-aggregation
  * to O(touched groups' live rows), while the read itself is one
  * snapshot-accelerated state scan — a non-pk filter cannot soundly
  * cross the keyed collapse. Untouched groups keep their stored
  * sketch). Until round 15 that probe was a refusal gate; the
  * recompute dispatch deleted the gate, so every aggregate in the
  * shape now maintains under arbitrary updates and deletes. This is
  * the one aggregate here whose maintainable
  * form differs from the full-rerun form: non-maintainable views
  * evaluate APPROX_COUNT_DISTINCT with Spark's HLL++ while this shape
  * uses the DataSketches HLL (the mergeable-state requirement);
  * both are approximate by contract, and small cardinalities sit in
  * the sketch's exact sparse mode.
  *
  * Exact NULL semantics cost bookkeeping: SUM over a group whose every
  * remaining value is NULL must be NULL, and a group with zero
  * remaining rows must vanish. The stored parquet therefore carries
  * hidden support columns (`__graft_rows` = live row count,
  * `__graft_n_<alias>` = non-null count per SUM) that the read path
  * strips; they make the merge exact without re-scanning untouched
  * groups.
  *
  * The reference materializes views by full re-run only
  * (views.rs:40-123); incremental maintenance is the [REF-GAP] that
  * matters at scale: the refresh aggregation shuffles only the touched
  * rows and the merge joins on the view's own (small) key space,
  * instead of re-aggregating the full table.
  */
object IncrementalView {

  sealed trait Agg { def alias: String }
  final case class CountStar(alias: String) extends Agg
  final case class CountExpr(e: String, alias: String) extends Agg
  final case class SumExpr(e: String, alias: String) extends Agg
  final case class AvgExpr(e: String, alias: String) extends Agg
  /** Exact COUNT(DISTINCT e): maintained through a hidden AUXILIARY
    * frame at (group keys, value) grain — the classic two-level IVM
    * reduction. The aux is itself a self-maintainable COUNT(*) view
    * (a value's per-group support can be subtracted as well as
    * added), and the visible column is the aux's per-group row count.
    * Fully retractable, like every aux-backed aggregate. */
  final case class CountDistinctExpr(e: String, alias: String) extends Agg
  /** Exact SUM(DISTINCT e) / AVG(DISTINCT e) (round 15): aux-backed
    * like COUNT(DISTINCT) — the aux's per-(group, value) rows ARE the
    * group's surviving distinct-value set, so the overlay re-derives
    * the sum (or the single sum/count division) over them. Exactly
    * retractable: a delete that removes a value's last live row drops
    * its aux entry and the recomputed sum no longer includes it.
    * Integer/DECIMAL inputs only (the engine's float gate routes
    * FLOAT/DOUBLE to full rerun, same as plain SUM/AVG — a set-sum
    * over doubles is still order-dependent). */
  final case class SumDistinctExpr(e: String, alias: String) extends Agg
  final case class AvgDistinctExpr(e: String, alias: String) extends Agg
  final case class MinExpr(e: String, alias: String) extends Agg
  final case class MaxExpr(e: String, alias: String) extends Agg
  final case class AcdExpr(e: String, alias: String) extends Agg
  /** APPROX_PERCENTILE(e, p) with a LITERAL p (round 15): maintained
    * through a hidden mergeable DataSketches KLL sketch
    * (`__graft_kll_<alias>`, k = KllK) over the value cast to DOUBLE,
    * plus a non-null support count (`get_quantile` on an empty sketch
    * throws — the visible column is NULL at zero support, the SQL
    * aggregate-over-nothing convention). Maintenance mirrors the HLL
    * sketch exactly: append-shaped refreshes merge the touched rows'
    * new-state sketch, anything that could retract or phantom a value
    * dispatches to the touched-group recompute. CONTRACT, stated
    * honestly: while a group holds ≤ KllK values the sketch is in its
    * exact regime — quantiles are exact order statistics
    * (min x with inclusive rank ≥ p, verified = SQL's min-over-
    * CUME_DIST≥p) and incremental equals full refresh bit-for-bit;
    * past KllK values, compaction makes both paths approximate within
    * KLL's published rank error (~0.58% at k=800) and they may differ
    * from each other within it (KLL compaction, unlike HLL's
    * max-per-register union, is not merge-order-idempotent). The
    * maintainable form differs from full rerun's (Spark's native
    * approx_percentile, input-typed result) — this shape surfaces
    * DOUBLE, like AVG. */
  final case class PctlExpr(e: String, alias: String, pct: String)
    extends Agg

  /** One grouping key: a row expression and its output alias (for a
    * bare column the two coincide). The expression is evaluated
    * identically by the full aggregation and every signed-delta
    * projection, so computed keys (`x % 5 AS bucket`) maintain exactly
    * like bare columns — the stored view and the merge join both work
    * over the ALIAS. Deterministic expressions only (the same row must
    * land in the same group on every evaluation). */
  final case class GroupKey(e: String, alias: String)

  /** The maintainable view shape, a linear chain of 1..MaxJoinTables
    * tables (round 14 added the joins; a single-table view is the
    * one-table chain):
    *
    *   SELECT g1..gk, <aggs>
    *   FROM t1 [JOIN t2 ON q.c = q.c [JOIN t3 ON ...] ...]
    *   [WHERE p] GROUP BY g1..gk [HAVING p]
    *
    * Each ON is an inner equi-join linking the newly joined table to
    * one earlier table. The telescoping signed delta (see
    * joinSignedDelta) subtracts as well as adds, so it is exact under
    * arbitrary updates/deletes on ANY side; for one table it is just
    * the touched rows' new state at +1 and old state at −1.
    * COUNT/SUM/AVG retract from the stored accumulators;
    * COUNT(DISTINCT), SUM/AVG(DISTINCT) and MIN/MAX (round 15)
    * retract through their aux frames, which the same signed delta
    * maintains. A sketch (APPROX_COUNT_DISTINCT's HLL,
    * APPROX_PERCENTILE's KLL) cannot retract a row — and across a
    * join the union folds in EVERY +1 row, including a cancelling
    * cross-term's +1 PHANTOM pair that never existed in either state
    * — so the engine probes the signed delta for ANY negative-signed
    * sketch-value row: none — appends, or appends whose new rows join
    * only PRE-EXISTING partner rows, the common
    * facts-landing-against-stable-dims shape — means the sketch union
    * stands; any means only the touched groups' sketches recompute
    * from current state (round 15; the probe is conservative — a
    * false positive costs a recompute, never correctness — and strict
    * enough to exclude phantoms: a cancelling old×new cross-pair
    * always emits its matching NEGATIVE row in the earlier touched
    * side's term, which the probe sees — joinSignedDelta's phantom
    * note). Telescoping's partition property (a joined row enters the
    * term of the FIRST side whose row is new) is what makes the
    * pure-append union fold every (group, value) pair in exactly once.
    * Table names double as the join aliases; group columns are
    * bare identifiers that must be unambiguous in the joined relation
    * (the stored view exposes them unqualified). */
  final case class Shape(tables: Seq[String], onExprs: Seq[String],
      links: Seq[(String, String, String, String)], where: Option[String],
      groupKeys: Seq[GroupKey], aggs: Seq[Agg],
      having: Option[String] = None) {
    def groupCols: Seq[String] = groupKeys.map(_.alias)
    /** The view's base relation: the aliased join chain (+ view WHERE)
      * over one state frame per table, in `tables` order — the ONE
      * derivation the main aggregation, the aux frames and every
      * signed-delta term consume (hand-rolled copies could drift). */
    def joined(frames: Seq[DataFrame]): DataFrame = {
      val aliased = tables.zip(frames).map { case (t, f) => f.alias(t) }
      val j = aliased.tail.zip(onExprs).foldLeft(aliased.head) {
        case (acc, (f, on)) => acc.join(f, expr(on))
      }
      where.fold(j)(p => j.where(expr(p)))
    }
    /** Only the SKETCH-backed aggregates (APPROX_COUNT_DISTINCT,
      * APPROX_PERCENTILE) pay the refresh-time probe of the signed
      * delta that dispatches union vs touched-group recompute (see
      * recomputeSketches). MIN/MAX retract exactly through their aux
      * frames (round 15), like COUNT(DISTINCT). */
    def hasSketch: Boolean = sketchAggs(aggs).nonEmpty
  }

  /** Join chains cap. The telescoping delta (round 17) emits ONE
    * term per TOUCHED table — an untouched side's delta is
    * statically empty and its term is dropped at construction — so
    * refresh cost scales with k, not with chain length or 2^k: the
    * star-schema shape (one touched fact against seven stable dims)
    * pays one term at any n, and even an all-churned window pays n
    * cascade-bounded terms. Round 18 raised the cap 6 → 8 after the
    * old-prefix derivation removed the last per-term scans (a touched
    * side's old prefix now comes from the pinned pruned-new frame +
    * delta, zero extra reads — QueryEngine fullOlds) and an 8-table
    * measurement showed the incremental path beating full rerun on a
    * churned window (SURVEY §8). The cap still guards join WIDTH
    * (each term is an n-way join over pruned frames — planner cost
    * grows with n per term) and the per-refresh statement floor;
    * an 8-level snowflake is already past every schema in the
    * reference's tests, and a deeper chain falls back to the
    * always-correct full REFRESH. */
  val MaxJoinTables = 8

  val RowsCol = "__graft_rows"
  def supportCol(alias: String): String = s"__graft_n_$alias"
  def avgSumCol(alias: String): String = s"__graft_s_$alias"
  def sketchCol(alias: String): String = s"__graft_hll_$alias"
  def kllCol(alias: String): String = s"__graft_kll_$alias"
  def hidden(c: String): Boolean = c.startsWith("__graft_")

  /** KLL size parameter: exact quantiles while a group holds ≤ this
    * many values, ~0.58% rank error past it, KB-scale state. Baked
    * into every sketch build (create, delta, recompute) — merges
    * require agreeing k. */
  val KllK = 800
  private def kllAgg(v: Column): Column =
    call_function("kll_sketch_agg_double", v, lit(KllK))
  private def kllQuantile(sk: Column, pct: String): Column =
    call_function("kll_sketch_get_quantile_double", sk, lit(pct.toDouble))
  private def kllMerge(a: Column, b: Column): Column =
    call_function("kll_sketch_merge_double", a, b)
  /** The aux frame's value column, and the aux's subdirectory inside
    * the view's version dir — the leading underscore keeps Spark's
    * file index from reading aux files into the main view. */
  val CdValCol = "__graft_cd_val"
  def auxDir(alias: String): String = s"_graft_aux_$alias"

  // --------------------------------------------- bucketed aux store
  // Round 18 (the aux scaladoc's named future work, built): the aux
  // frame no longer re-materializes wholesale each refresh. Rows
  // hash-bucket on the view's GROUP KEYS into a fixed number of
  // buckets stored OUTSIDE the version dirs
  // (`matviews/<name>/auxstore_<alias>/v=<j>/<bucket>=<b>/`), each
  // bucket independently versioned; a per-version MANIFEST (a
  // `_`-prefixed JSON file inside the view's version dir, invisible
  // to the main parquet read) maps bucket → store version. A refresh
  // reads and rewrites ONLY the buckets its signed delta's group
  // keys hash into — write cost O(touched buckets · frame/B), not
  // O(frame) — and carries the rest of the pointers forward.
  // Crash-atomic like the main swap: bucket data and the new
  // manifest land under the NEW version before the single catalog
  // save publishes, and the version reclamation deletes store
  // versions no retained manifest references.

  /** Bucket count: 64 keeps the touched-bucket manifest and its
    * collect trivially bounded while making a one-group refresh
    * rewrite 1/64th of a near-unique aux frame. Baked into the
    * layout; the manifest records it for forward compatibility. */
  val AuxBuckets = 64
  val AuxBucketCol = "__graft_aux_bucket"

  /** The bucket of a row's group keys — Murmur3 `hash` over the key
    * columns, stable across refreshes because both the delta and the
    * store bucket through this one definition. */
  def auxBucket(groupCols: Seq[String]): Column =
    if (groupCols.isEmpty) lit(0)
    else pmod(hash(groupCols.map(col): _*), lit(AuxBuckets))

  /** Manifest file name inside a view VERSION dir ( `_`-prefixed →
    * ignored by the main parquet read, like the aux dirs). */
  def auxManifestFile(alias: String): String =
    s"_graft_aux_${alias}.manifest.json"
  /** Aggregates maintained through a hidden per-(group, value) aux
    * frame: COUNT(DISTINCT) counts the aux's surviving values; MIN and
    * MAX (round 15) re-derive the extreme over them. All three are
    * exactly retractable under arbitrary updates and deletes — the
    * aux frame built for COUNT(DISTINCT) is precisely the live-support
    * state that makes MIN/MAX maintainable under deletes (the classic
    * two-level IVM reduction), which deleted the old MIN/MAX append
    * gate and its per-refresh probe job. */
  def auxAggs(aggs: Seq[Agg]): Seq[Agg] = aggs.collect {
    case a: CountDistinctExpr => a
    case a: SumDistinctExpr => a
    case a: AvgDistinctExpr => a
    case a: MinExpr => a
    case a: MaxExpr => a
  }
  /** The value expression an aux-backed aggregate keys its frame on. */
  def auxExpr(a: Agg): String = a match {
    case CountDistinctExpr(e, _) => e
    case SumDistinctExpr(e, _) => e
    case AvgDistinctExpr(e, _) => e
    case MinExpr(e, _) => e
    case MaxExpr(e, _) => e
    case other => throw new IllegalArgumentException(
      s"not an aux-backed aggregate: $other")
  }

  /** Aux-backed aggregates grouped by their value EXPRESSION: members
    * of a group share one physical frame — `MIN(v), MAX(v),
    * COUNT(DISTINCT v)` all key the identical per-(group, v) live
    * counts, so one build, one merge, one stored dir and one overlay
    * pass serve all of them (the common MIN+MAX pair halves its aux
    * cost). The group's first aggregate names the stored dir; the
    * grouping is derived identically at CREATE, REFRESH and read, so
    * the dir name is stable across refreshes. Textual expression
    * match only — `MIN(v)` and `MIN(v )` would get separate frames,
    * which is correct, just unshared. */
  def auxGroups(aggs: Seq[Agg]): Seq[(Agg, Seq[Agg])] = {
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[Agg]]
    for (a <- auxAggs(aggs)) {
      val k = auxExpr(a).trim
      grouped(k) = grouped.getOrElse(k, Vector.empty) :+ a
    }
    grouped.values.map(ms => (ms.head, ms.toSeq)).toSeq
  }

  private val CountStarRe = """(?is)^COUNT\s*\(\s*\*\s*\)\s+AS\s+(\w+)$""".r
  private val CdRe =
    """(?is)^COUNT\s*\(\s*DISTINCT\b\s*(.+)\)\s+AS\s+(\w+)$""".r
  private val SumDistinctRe =
    """(?is)^SUM\s*\(\s*DISTINCT\b\s*(.+)\)\s+AS\s+(\w+)$""".r
  private val AvgDistinctRe =
    """(?is)^AVG\s*\(\s*DISTINCT\b\s*(.+)\)\s+AS\s+(\w+)$""".r
  private val CountRe = """(?is)^COUNT\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val SumRe = """(?is)^SUM\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val AvgRe = """(?is)^AVG\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val AcdRe =
    """(?is)^APPROX_COUNT_DISTINCT\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val MinRe = """(?is)^MIN\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val MaxRe = """(?is)^MAX\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val IdentRe = """^[\w.]+$""".r
  private val GroupItemRe = """(?is)^(.+?)\s+AS\s+(\w+)$""".r
  private val AggCallRe =
    ("""(?i)\b(COUNT|SUM|AVG|MIN|MAX|APPROX_COUNT_DISTINCT""" +
      """|APPROX_PERCENTILE)\s*\(""").r
  private val PctlRe =
    """(?is)^APPROX_PERCENTILE\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val NumLitRe = """^(?:0|1|0?\.\d+|1\.0+)$""".r
  // ShapeRe's optional HAVING group is the LAST capture before end of
  // statement, so a trailing ORDER BY / LIMIT / OFFSET lands inside it
  // ("HAVING n > 1 ORDER BY g" captures having = "n > 1 ORDER BY g").
  // Such text is not a row predicate — expr() would throw at CREATE
  // analysis or at read-time registration — so the shape rejects it
  // and the view falls back to full rerun, which executes the clause
  // through Spark SQL correctly. (A false positive on a string
  // literal containing the keyword also just falls back — safe.)
  private val TrailingClauseRe = """(?is)\b(ORDER\s+BY|LIMIT|OFFSET)\b""".r

  /** Aliases of the hidden aggregates a HAVING rewrite mints — the
    * `__graft_` prefix keeps them stripped from the view's read
    * output like every other IVM accumulator. */
  private[graft] val HavingAggPrefix = "__graft_h_"
  private[graft] val HavingAggRefRe = """__graft_h_\d+""".r

  /** Rewrite aggregate CALLS inside a HAVING into references to
    * MAINTAINED accumulators, making standard `HAVING COUNT(*) >= 2`
    * incrementally maintainable (round 15): each distinct call
    * becomes a hidden aggregate (`__graft_h_<i>`) carried in the
    * shape's agg list — populated, merged and (for the DISTINCT
    * family / MIN / MAX / ACD) aux-backed exactly like a visible
    * aggregate — and the read-time filter references it before the
    * hidden columns strip. A call textually identical to a select
    * item reuses that item's alias (no duplicate accumulator). None
    * when any call is not a maintainable aggregate, when parens don't
    * balance, or when the text carries a string literal in either
    * quoting style (a quoted "COUNT(" lookalike must not be rewritten;
    * double quotes are string literals under Spark's default parser) —
    * the view then falls
    * back to full rerun, which serves the clause through Spark SQL.
    * Returns (rewritten predicate, hidden aggs to append). */
  private[sql] def rewriteHaving(having: String, selectAggs: Seq[Agg])
      : Option[(String, Seq[Agg])] = {
    if (AggCallRe.findFirstIn(having).isEmpty) return Some((having, Nil))
    if (having.contains("'") || having.contains("\"")) return None
    // a FILTER (WHERE ...) clause binds to the agg call SYNTACTICALLY
    // — replacing the call alone would leave it dangling on a bare
    // column reference; full rerun serves the filtered form
    if ("""(?i)\bFILTER\b""".r.findFirstIn(having).isDefined) return None
    // a scalar subquery's aggregates range over the SUBQUERY's
    // relation — minting them against the view's base table would
    // silently change the predicate's meaning; full rerun executes
    // the subquery correctly
    if ("""(?i)\bSELECT\b""".r.findFirstIn(having).isDefined) return None
    val sb = new StringBuilder
    val minted = scala.collection.mutable.LinkedHashMap.empty[String, Agg]
    var pos = 0
    for (m <- AggCallRe.findAllMatchIn(having) if m.start >= pos) {
      sb.append(having.substring(pos, m.start))
      var depth = 1
      var i = m.end // AggCallRe consumes through the opening paren
      while (i < having.length && depth > 0) {
        val c = having.charAt(i)
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        i += 1
      }
      if (depth != 0) return None
      val call = having.substring(m.start, i)
      if (NonCdDistinctRe.findFirstIn(call).isDefined) return None
      // identity = (aggregate kind, input expression[, quantile]) via
      // the case-insensitive parse — `COUNT(*)` and `count( * )` are
      // the same accumulator, whether it lives in the select list or
      // was minted by an earlier call in this same predicate
      val probe = aggOf(
        s"${call.replaceAll("\\s+", " ").trim} AS __probe") match {
        case Some(p) => p
        case None => return None
      }
      def same(a: Agg): Boolean =
        a.getClass == probe.getClass && aggInput(a) == aggInput(probe)
      val alias = selectAggs.find(same).map(_.alias)
        .orElse(minted.values.find(same).map(_.alias))
        .getOrElse {
          val a = s"$HavingAggPrefix${minted.size}"
          aggOf(s"$call AS $a") match {
            case Some(agg) => minted(a) = agg; a
            case None => return None
          }
        }
      sb.append(alias)
      pos = i
    }
    sb.append(having.substring(pos))
    Some((sb.toString, minted.values.toSeq))
  }

  /** Parse one `AGG(args) AS alias` item into its maintainable Agg,
    * None when the call is not one the engine maintains. Shared by
    * the select-list classifier and the HAVING rewrite. */
  private def aggOf(item: String): Option[Agg] = item match {
    case CountStarRe(a) => Some(CountStar(a))
    // before CountRe, which would otherwise swallow the DISTINCT
    // keyword into its expression; multi-column COUNT(DISTINCT a, b)
    // has no single aux value key — the view falls back to full
    // rerun, which serves it fine
    case CdRe(e, a) =>
      if (SqlText.splitTopLevel(e).size != 1) None
      else Some(CountDistinctExpr(e.trim, a))
    // before SumRe/AvgRe, which would swallow the DISTINCT keyword
    // into their expression — aux-frame-backed, exactly retractable
    case SumDistinctRe(e, a) =>
      if (SqlText.splitTopLevel(e).size != 1) None
      else Some(SumDistinctExpr(e.trim, a))
    case AvgDistinctRe(e, a) =>
      if (SqlText.splitTopLevel(e).size != 1) None
      else Some(AvgDistinctExpr(e.trim, a))
    // every remaining aggregate takes exactly ONE argument here —
    // Spark's multi-column COUNT(a, b) (and any stray comma form) is
    // legal SQL but not a maintainable accumulator, so it must fall
    // out of the shape, never surface as expr("a, b") at CREATE
    case SumRe(e, a) if SqlText.splitTopLevel(e).size == 1 =>
      Some(SumExpr(e.trim, a))
    case AvgRe(e, a) if SqlText.splitTopLevel(e).size == 1 =>
      Some(AvgExpr(e.trim, a))
    // the refresh probes the signed delta for retraction and
    // dispatches union vs recompute; the 2-arg relative-error form
    // has no fixed-k mergeable sketch and falls back
    case AcdRe(e, a) if SqlText.splitTopLevel(e).size == 1 =>
      Some(AcdExpr(e.trim, a))
    // two args, LITERAL quantile in [0, 1] (a column-valued p has no
    // maintainable sketch); the 3-arg accuracy form and non-literal
    // quantiles fall back to full rerun through Spark's native
    // approx_percentile
    case PctlRe(args, a) => SqlText.splitTopLevel(args).map(_.trim) match {
      case Seq(e, p) if NumLitRe.matches(p) => Some(PctlExpr(e, a, p))
      case _ => None
    }
    // aux-frame-backed since round 15, hence retractable — admitted
    // into join shapes alongside COUNT(DISTINCT)
    case MinRe(e, a) if SqlText.splitTopLevel(e).size == 1 =>
      Some(MinExpr(e.trim, a))
    case MaxRe(e, a) if SqlText.splitTopLevel(e).size == 1 =>
      Some(MaxExpr(e.trim, a))
    case CountRe(e, a)
        if e.trim != "*" && SqlText.splitTopLevel(e).size == 1 =>
      Some(CountExpr(e.trim, a))
    case _ => None
  }

  /** The input expression of an aggregate, None for COUNT(*) — the
    * identity the HAVING rewrite reuses select-list aliases by
    * (APPROX_PERCENTILE compares its quantile too). */
  private def aggInput(a: Agg): Option[String] = a match {
    case CountStar(_) => None
    case CountExpr(e, _) => Some(e.trim)
    case SumExpr(e, _) => Some(e.trim)
    case AvgExpr(e, _) => Some(e.trim)
    case CountDistinctExpr(e, _) => Some(e.trim)
    case SumDistinctExpr(e, _) => Some(e.trim)
    case AvgDistinctExpr(e, _) => Some(e.trim)
    case MinExpr(e, _) => Some(e.trim)
    case MaxExpr(e, _) => Some(e.trim)
    case AcdExpr(e, _) => Some(e.trim)
    case PctlExpr(e, _, p) => Some(s"${e.trim} @ ${p.toDouble}")
  }

  /** Classify select items into aggregates and group keys (bare
    * columns or `expr AS alias` row expressions with no aggregate
    * call). None when an item fits neither or GROUP BY does not state
    * exactly the key aliases. */
  private def classify(items: Seq[String], gcols: Seq[String])
      : Option[(Seq[GroupKey], Seq[Agg])] = {
    val aggs = Vector.newBuilder[Agg]
    val keys = Vector.newBuilder[GroupKey]
    for (i <- items) aggOf(i) match {
      // __graft_* is the engine's hidden-column namespace (HAVING
      // accumulators, aux/sketch columns — `hidden`): a user alias
      // inside it would collide with a minted accumulator mid-CREATE
      // (duplicate columns in the parquet write) or vanish from read
      // output. Fail the SHAPE cleanly instead — the view falls back
      // to a correct full-rerun surface.
      case Some(a) if hidden(a.alias) => return None
      case Some(a) => aggs += a
      case None => i match {
        // an agg-shaped item aggOf rejected (COUNT(DISTINCT a,b),
        // SUM(DISTINCT …) over multiple exprs) must fail the shape,
        // not fall through into the group keys
        case b if BareRe.matches(b) =>
          if (hidden(b)) return None
          keys += GroupKey(b, b)
        case GroupItemRe(e, a) if AggCallRe.findFirstIn(e).isEmpty =>
          if (hidden(a)) return None
          keys += GroupKey(e.trim, a)
        case _ => return None
      }
    }
    val ks = keys.result()
    val as = aggs.result()
    // GROUP BY must state exactly the key ALIASES (the view exposes
    // its own grouping keys) and there must be something to maintain
    if (ks.nonEmpty && as.nonEmpty && ks.map(_.alias).sorted == gcols.sorted)
      Some((ks, as))
    else None
  }

  // SUM/AVG(DISTINCT) maintain via the aux frame since round 15;
  // MIN/MAX(DISTINCT) (a legal no-op spelling) and
  // APPROX_COUNT_DISTINCT(DISTINCT) stay full-rerun
  private val NonCdDistinctRe =
    """(?is)\b(?:MIN|MAX|APPROX_COUNT_DISTINCT)\s*\(\s*DISTINCT\b""".r

  // FROM is one table — dotted names are flat identifiers (`app.t`) —
  // or an equi-join chain of bare table names, which double as the
  // join aliases
  private val ShapeRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+(?:\s+(?:INNER\s+)?JOIN\s+""" +
      """\w+\s+ON\s+\w+\s*\.\s*\w+\s*=\s*\w+\s*\.\s*\w+)*)""" +
      """(?:\s+WHERE\s+(.+?))?\s+GROUP\s+BY\s+(.+?)""" +
      """(?:\s+HAVING\s+(.+?))?\s*;?\s*$""").r
  private val JoinLinkRe =
    ("""(?is)\s+(?:INNER\s+)?JOIN\s+(\w+)\s+ON\s+""" +
      """(\w+)\s*\.\s*(\w+)\s*=\s*(\w+)\s*\.\s*(\w+)""").r
  private val BareRe = """^\w+$""".r

  /** Some(shape) iff `sql` is the maintainable form (see Shape): one
    * table, or 2 to MaxJoinTables distinct bare-named tables, each ON
    * an equality linking the newly joined table to ONE earlier table
    * (qualifiers are table names, either order); bare unqualified
    * group columns matching the select list; every aggregate one the
    * engine maintains (aggOf), APPROX_COUNT_DISTINCT and
    * APPROX_PERCENTILE included — whether their sketch unions or
    * recomputes is the ENGINE's refresh-time dispatch, not the
    * parser's. */
  def parse(sql: String): Option[Shape] = sql match {
    case ShapeRe(selectList, fromChain, where, groupBy, having) =>
      val first =
        """^[\w.]+""".r.findFirstIn(fromChain.trim).getOrElse(return None)
      val linkMs = JoinLinkRe.findAllMatchIn(fromChain).toSeq
      val tables = first +: linkMs.map(_.group(1))
      if (tables.size > MaxJoinTables) return None
      // a join alias must be a bare name
      if (tables.size > 1 && !BareRe.matches(first)) return None
      // duplicate names would collide the table-name aliases
      if (tables.map(_.toLowerCase).distinct.size != tables.size) return None
      val links = linkMs.zipWithIndex.map { case (m, i) =>
        val newT = m.group(1)
        val (q1, c1, q2, c2) =
          (m.group(2), m.group(3), m.group(4), m.group(5))
        val earlier = tables.take(i + 1).map(_.toLowerCase).toSet
        val linksNew =
          (q1.equalsIgnoreCase(newT) && earlier.contains(q2.toLowerCase)) ||
            (q2.equalsIgnoreCase(newT) && earlier.contains(q1.toLowerCase))
        if (!linksNew) return None
        (q1, c1, q2, c2)
      }
      val onExprs = links.map { case (q1, c1, q2, c2) =>
        s"$q1.$c1 = $q2.$c2" }
      val items = SqlText.splitTopLevel(selectList).map(_.trim)
      val gcols = SqlText.splitTopLevel(groupBy).map(_.trim)
      if (gcols.isEmpty || !gcols.forall(BareRe.matches(_))) return None
      // COUNT/SUM/AVG(DISTINCT) maintain via the aux frame; the other
      // DISTINCT-qualified aggregates fall back to full rerun
      if (items.exists(i => NonCdDistinctRe.findFirstIn(i).isDefined))
        return None
      // a read-time HAVING filters the view's stored rows; aggregate
      // calls in it (HAVING COUNT(*) >= 2, standard SQL) rewrite to
      // hidden maintained accumulators (rewriteHaving) — only a
      // trailing ORDER BY/LIMIT (not a predicate at all) or an
      // unmaintainable call falls back to full rerun
      if (Option(having).exists(h =>
          TrailingClauseRe.findFirstIn(h).isDefined)) return None
      classify(items, gcols).flatMap {
        case (keys, aggs) =>
          Option(having).map(_.trim) match {
            case None => Some(Shape(tables, onExprs, links,
              Option(where).map(_.trim), keys, aggs, None))
            case Some(h) => rewriteHaving(h, aggs).map {
              case (rewritten, extra) =>
                Shape(tables, onExprs, links,
                  Option(where).map(_.trim), keys, aggs ++ extra,
                  Some(rewritten))
            }
          }
      }
    case _ => None
  }

  /** The view query over one state frame per table, INCLUDING the
    * hidden support columns — population at CREATE and full REFRESH
    * both use this so the stored schema is always merge-ready. */
  def aggregate(frames: Seq[DataFrame], shape: Shape): DataFrame = {
    val aggCols: Seq[Column] =
      shape.aggs.map {
        case CountStar(a) => count(lit(1)).as(a)
        case CountExpr(e, a) => count(expr(e)).as(a)
        case SumExpr(e, a) => sum(expr(e)).as(a)
        // NOT Spark's avg(): its running double accumulation is
        // partition-order-dependent for non-decimal input, so the
        // incremental merge could never reproduce it bit-for-bit. One
        // division of the exact sum/count accumulators is
        // deterministic, and the merge evaluates the identical
        // expression over the identical types.
        case AvgExpr(e, a) => (sum(expr(e)) / count(expr(e))).as(a)
        // the estimate of the hidden mergeable sketch — never Spark's
        // HLL++ approx_count_distinct, whose state the merge could not
        // union
        case AcdExpr(e, a) =>
          hll_sketch_estimate(hll_sketch_agg(expr(e))).as(a)
        // exact; the incremental path recomputes the column from the
        // aux frame rather than merging it
        case CountDistinctExpr(e, a) =>
          countDistinct(expr(e)).cast("long").as(a)
        // one division of exact distinct-sum/distinct-count — the
        // identical expression the aux overlay re-derives, so
        // incremental equals full bit-for-bit (cf. AvgExpr)
        case SumDistinctExpr(e, a) => sum_distinct(expr(e)).as(a)
        case AvgDistinctExpr(e, a) =>
          (sum_distinct(expr(e)) / countDistinct(expr(e))).as(a)
        case MinExpr(e, a) => min(expr(e)).as(a)
        case MaxExpr(e, a) => max(expr(e)).as(a)
        // the quantile of the hidden mergeable KLL sketch; NULL at
        // zero support — get_quantile on an EMPTY sketch throws, and
        // CaseWhen only evaluates the taken branch
        case PctlExpr(e, a, p) =>
          val v = expr(e).cast("double")
          when(count(v) > 0, kllQuantile(kllAgg(v), p)).as(a)
      } ++ Seq(count(lit(1)).as(RowsCol)) ++
        shape.aggs.flatMap {
          case SumExpr(e, a) => Seq(count(expr(e)).as(supportCol(a)))
          case AvgExpr(e, a) => Seq(sum(expr(e)).as(avgSumCol(a)),
            count(expr(e)).as(supportCol(a)))
          case AcdExpr(e, a) => Seq(hll_sketch_agg(expr(e)).as(sketchCol(a)))
          case PctlExpr(e, a, _) =>
            val v = expr(e).cast("double")
            Seq(kllAgg(v).as(kllCol(a)), count(v).as(supportCol(a)))
          case _ => Nil
        }
    shape.joined(frames)
      .groupBy(shape.groupKeys.map(k => expr(k.e).as(k.alias)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Per-row contribution columns a signed-delta frame carries for the
    * delta aggregation (`__has_` null flags, `__val_` cast values). */
  private def signedVals(aggs: Seq[Agg],
      storedType: Map[String, org.apache.spark.sql.types.DataType])
      : Seq[Column] =
    aggs.collect {
      case CountExpr(e, a) => expr(e).isNotNull.as(s"__has_$a")
      case SumExpr(e, a) => expr(e).cast(storedType(a)).as(s"__val_$a")
      case AvgExpr(e, a) =>
        expr(e).cast(storedType(avgSumCol(a))).as(s"__val_$a")
      // raw value, uncast: sketch identity hashes the input's own
      // type, which must match what `aggregate` hashed
      case AcdExpr(e, a) => expr(e).as(s"__val_$a")
      // DOUBLE, matching every other KLL build of this alias
      case PctlExpr(e, a, _) => expr(e).cast("double").as(s"__val_$a")
      // raw value, uncast: the aux frame groups by it
      case CountDistinctExpr(e, a) => expr(e).as(s"__val_$a")
      case SumDistinctExpr(e, a) => expr(e).as(s"__val_$a")
      case AvgDistinctExpr(e, a) => expr(e).as(s"__val_$a")
      case MinExpr(e, a) => expr(e).cast(storedType(a)).as(s"__val_$a")
      case MaxExpr(e, a) => expr(e).cast(storedType(a)).as(s"__val_$a")
    }

  /** The merge core over an already-SIGNED contribution frame
    * (groupCols + `__sign` ±1 + the `signedVals` columns): aggregate
    * the signed deltas per group, full-outer-join on the view key,
    * combine with the stored accumulators. The view's signed delta
    * (joinSignedDelta) and every aux frame's merge land here. */
  def mergeSigned(stored: DataFrame, signedRows: DataFrame,
      groupCols: Seq[String], aggs: Seq[Agg]): DataFrame = {
    val storedType = stored.schema.map(f => f.name -> f.dataType).toMap
    val deltaCols: Seq[Column] =
      Seq(sum(col("__sign")).as(s"__d_$RowsCol")) ++
        aggs.collect {
          case CountExpr(_, a) => Seq(
            sum(when(col(s"__has_$a"), col("__sign")).otherwise(0))
              .as(s"__d_$a"))
          case SumExpr(_, a) => Seq(
            sum(when(col(s"__val_$a").isNotNull, col("__sign")).otherwise(0))
              .as(s"__d_${supportCol(a)}"),
            sum(col(s"__val_$a") * col("__sign")).as(s"__d_$a"))
          case AvgExpr(_, a) => Seq(
            sum(when(col(s"__val_$a").isNotNull, col("__sign")).otherwise(0))
              .as(s"__d_${supportCol(a)}"),
            sum(col(s"__val_$a") * col("__sign")).as(s"__d_${avgSumCol(a)}"))
          // new-state side only, like MIN/MAX: the emptiness
          // precondition makes the −1 side vacuous (a sketch cannot
          // subtract a value)
          case AcdExpr(_, a) => Seq(
            hll_sketch_agg(when(col("__sign") === 1, col(s"__val_$a")))
              .as(s"__d_${sketchCol(a)}"))
          case PctlExpr(_, a, _) => Seq(
            sum(when(col(s"__val_$a").isNotNull, col("__sign")).otherwise(0))
              .as(s"__d_${supportCol(a)}"),
            kllAgg(when(col("__sign") === 1, col(s"__val_$a")))
              .as(s"__d_${kllCol(a)}"))
          // new-state side only — a provisional value: the engine's
          // aux overlay (overlayAux) replaces every TOUCHED group's
          // extreme with the exact value over surviving aux entries,
          // so retractions never surface this column's optimism
          case MinExpr(_, a) => Seq(
            min(when(col("__sign") === 1, col(s"__val_$a"))).as(s"__d_$a"))
          case MaxExpr(_, a) => Seq(
            max(when(col("__sign") === 1, col(s"__val_$a"))).as(s"__d_$a"))
        }.flatten
    val deltas = signedRows
      .groupBy(groupCols.map(col): _*)
      .agg(deltaCols.head, deltaCols.tail: _*)
    val s = stored.alias("s")
    val d = deltas.alias("d")
    // union of stored and delta sketches, null-guarded: hll_union
    // returns NULL when EITHER side is (an untouched group has no
    // delta; a fresh group has no stored sketch)
    def mergedSketch(a: String): Column = {
      val sc = col(s"s.${sketchCol(a)}")
      val dc = col(s"d.__d_${sketchCol(a)}")
      when(dc.isNull, sc).when(sc.isNull, dc).otherwise(hll_union(sc, dc))
    }
    // an untouched group has no delta row (dc null); a fresh group no
    // stored sketch (sc null); an all-null touched delta contributes
    // an EMPTY sketch, which merges as identity
    def mergedKll(a: String): Column = {
      val sc = col(s"s.${kllCol(a)}")
      val dc = col(s"d.__d_${kllCol(a)}")
      when(dc.isNull, sc).when(sc.isNull, dc).otherwise(kllMerge(sc, dc))
    }
    val joinCond = groupCols
      .map(c => col(s"s.$c") <=> col(s"d.$c")).reduce(_ && _)
    val newRowsCount =
      coalesce(col(s"s.$RowsCol"), lit(0L)) + coalesce(col(s"d.__d_$RowsCol"), lit(0L))
    val outCols: Seq[Column] =
      groupCols.map(c => coalesce(col(s"s.$c"), col(s"d.$c")).as(c)) ++
        aggs.map {
          case CountStar(a) =>
            newRowsCount.cast("long").as(a)
          case CountExpr(_, a) =>
            (coalesce(col(s"s.$a"), lit(0L)) + coalesce(col(s"d.__d_$a"), lit(0L)))
              .cast("long").as(a)
          case SumExpr(_, a) =>
            val support = coalesce(col(s"s.${supportCol(a)}"), lit(0L)) +
              coalesce(col(s"d.__d_${supportCol(a)}"), lit(0L))
            when(support === 0, lit(null))
              .otherwise(
                coalesce(col(s"s.$a"), lit(0).cast(storedType(a))) +
                  coalesce(col(s"d.__d_$a"), lit(0).cast(storedType(a))))
              .cast(storedType(a)).as(a)
          // the SAME division `aggregate` evaluates: merged exact sum
          // (cast back to the stored accumulator type, so decimal
          // division resolves to the identical result type) over the
          // merged non-null count — bit-for-bit what a full refresh
          // over the same live rows produces
          case AvgExpr(_, a) =>
            val st = storedType(avgSumCol(a))
            val support = coalesce(col(s"s.${supportCol(a)}"), lit(0L)) +
              coalesce(col(s"d.__d_${supportCol(a)}"), lit(0L))
            val sumv = (coalesce(col(s"s.${avgSumCol(a)}"), lit(0).cast(st)) +
              coalesce(col(s"d.__d_${avgSumCol(a)}"), lit(0).cast(st))).cast(st)
            when(support === 0, lit(null))
              .otherwise(sumv / support)
              .cast(storedType(a)).as(a)
          // the union's REGISTERS equal the full-refresh sketch's at
          // any merge order, so the surfaced estimate is identical
          case AcdExpr(_, a) =>
            hll_sketch_estimate(mergedSketch(a)).cast(storedType(a)).as(a)
          // stored value passes through; the ENGINE overlays the
          // touched groups' counts from the merged aux frame (new
          // groups arrive NULL here and the overlay fills them)
          case CountDistinctExpr(_, a) => col(s"s.$a").cast("long").as(a)
          case SumDistinctExpr(_, a) =>
            col(s"s.$a").cast(storedType(a)).as(a)
          case AvgDistinctExpr(_, a) =>
            col(s"s.$a").cast(storedType(a)).as(a)
          // least/greatest skip NULLs in both Spark and the stored
          // parquet's NULL-for-all-NULL-group convention, so an
          // all-NULL stored extreme adopts the delta and vice versa
          case MinExpr(_, a) =>
            least(col(s"s.$a"), col(s"d.__d_$a")).cast(storedType(a)).as(a)
          case MaxExpr(_, a) =>
            greatest(col(s"s.$a"), col(s"d.__d_$a")).cast(storedType(a)).as(a)
          // the quantile of the merged sketch over the merged support —
          // sound on the union path only (the engine's probe dispatches
          // retractions/phantoms to the recompute overlay, which
          // replaces every touched group's value)
          case PctlExpr(_, a, p) =>
            val support = coalesce(col(s"s.${supportCol(a)}"), lit(0L)) +
              coalesce(col(s"d.__d_${supportCol(a)}"), lit(0L))
            when(support > 0, kllQuantile(mergedKll(a), p))
              .cast(storedType(a)).as(a)
        } ++
        Seq(newRowsCount.cast("long").as(RowsCol)) ++
        aggs.flatMap {
          case SumExpr(_, a) => Seq(
            (coalesce(col(s"s.${supportCol(a)}"), lit(0L)) +
              coalesce(col(s"d.__d_${supportCol(a)}"), lit(0L)))
              .cast("long").as(supportCol(a)))
          case AvgExpr(_, a) =>
            val st = storedType(avgSumCol(a))
            val support = coalesce(col(s"s.${supportCol(a)}"), lit(0L)) +
              coalesce(col(s"d.__d_${supportCol(a)}"), lit(0L))
            Seq(
              when(support === 0, lit(null))
                .otherwise(
                  coalesce(col(s"s.${avgSumCol(a)}"), lit(0).cast(st)) +
                    coalesce(col(s"d.__d_${avgSumCol(a)}"), lit(0).cast(st)))
                .cast(st).as(avgSumCol(a)),
              support.cast("long").as(supportCol(a)))
          case AcdExpr(_, a) => Seq(mergedSketch(a).as(sketchCol(a)))
          case PctlExpr(_, a, _) => Seq(
            mergedKll(a).as(kllCol(a)),
            (coalesce(col(s"s.${supportCol(a)}"), lit(0L)) +
              coalesce(col(s"d.__d_${supportCol(a)}"), lit(0L)))
              .cast("long").as(supportCol(a)))
          case _ => Nil
        }
    s.join(d, joinCond, "full_outer")
      .select(outCols: _*)
      .where(col(RowsCol) > 0)
  }

  /** Signed contribution frame of a view's refresh — the
    * TELESCOPING delta (round 17, replacing the 2ⁿ−1-term
    * inclusion-exclusion): with ΔAᵢ = Aᵢ_new[touchedᵢ] −
    * Aᵢ_old[touchedᵢ] (signed multisets),
    *
    *   ⋈ᵢAᵢ_new − ⋈ᵢAᵢ_old
    *     = Σᵢ ( A₁_old ⋈ … ⋈ Aᵢ₋₁_old ⋈ ΔAᵢ ⋈ Aᵢ₊₁_new ⋈ … ⋈ Aₙ_new )
    *
    * (check n=2: ΔA⋈B_new + A_old⋈ΔB — the sum telescopes exactly;
    * a one-table view's delta is ΔA alone, its touched rows' new state
    * at +1 and old state at −1).
    * ONE term per TOUCHED side — k terms, not 2^k−1 — and each term's
    * row sign is simply its Δ row's own sign, no products. An
    * untouched side's delta is statically empty, so its term is
    * dropped at construction (`untouched`); for such sides old state
    * equals new state and the engine passes the same frame for both.
    * Every term still carries exactly one O(touched)-restricted Δ
    * side, and every full side (old-prefix or new-suffix) is
    * cascade-pruned to rows that can reach some touched delta. Exact
    * under ARBITRARY updates and deletes for the retractable
    * aggregates (cf. Gupta & Mumick's view-maintenance survey; the
    * prefix-old/suffix-new decomposition is the standard sequential
    * form of the counting algorithm).
    *
    * The sketch probe's contract is unchanged: a sketch-bearing view
    * probes this frame for ANY negative-signed sketch-value row to
    * decide union vs touched-group recompute. Union-soundness under
    * pure appends holds because telescoping PARTITIONS the new joined
    * rows: a joined row enters the term of the FIRST side whose row
    * is new (earlier sides take OLD state), so every +1 (group,
    * value) pair exists in the new joined state exactly once. A
    * cancelling old×new cross-pair (DELETE dim + INSERT fact in one
    * window) surfaces as a −1 in the dim's term (Δdim_old × fact_new)
    * cancelled by a +1 in the fact's term (dim_old × Δfact_new) — the
    * +1 is a phantom that exists in NEITHER state, and exactly as
    * with inclusion-exclusion the raw-negative-sign probe (never net
    * support) is what keeps it out of the sketch.
    *
    * Each term applies the view's WHERE after the join and projects
    * straight to the signed-contribution columns, so nothing wider
    * than groupCols + sign + values ever unions. `sides(i)` =
    * (oldᵢ, newᵢ, fullOldᵢ, fullNewᵢ) in `shape.tables` order; the
    * engine pre-prunes the full frames and passes fullNew for
    * fullOld on untouched sides. */
  def joinSignedDelta(shape: Shape, stored: DataFrame,
      sides: Seq[(DataFrame, DataFrame, DataFrame, DataFrame)],
      untouched: Set[Int] = Set.empty): DataFrame = {
    val terms = sides.indices.filterNot(untouched)
      .map(joinSignedDeltaTerm(shape, stored, sides, _))
    require(terms.nonEmpty,
      "joinSignedDelta called with every side untouched")
    terms.reduce(_ unionByName _)
  }

  /** One telescoping term — touched side `i`'s
    * old-prefix ⋈ Δᵢ ⋈ new-suffix contribution, exactly as
    * [[joinSignedDelta]] would build it (which delegates here).
    * Exposed so the engine can CONSTRUCT AND MATERIALIZE the k terms
    * of a multi-touched refresh concurrently (Par.all)
    * (guide §2.6): the union's value is order-independent term
    * algebra, so per-term pinning changes execution overlap, never
    * the merged delta. */
  def joinSignedDeltaTerm(shape: Shape, stored: DataFrame,
      sides: Seq[(DataFrame, DataFrame, DataFrame, DataFrame)],
      i: Int): DataFrame = {
    require(sides.size == shape.tables.size,
      s"${shape.tables.size} tables, ${sides.size} sides")
    val storedType = stored.schema.map(f => f.name -> f.dataType).toMap
    val n = sides.size
    val sgn = "__graft_sgn"
    val delta = sides(i)._2.withColumn(sgn, lit(1))
      .unionByName(sides(i)._1.withColumn(sgn, lit(-1)))
    val frames = (0 until n).map { j =>
      if (j < i) sides(j)._3 // old-prefix
      else if (j == i) delta
      else sides(j)._4 // new-suffix
    }
    shape.joined(frames).select(
      shape.groupKeys.map(k => expr(k.e).as(k.alias)) ++
        Seq(col(sgn).as("__sign")) ++
        signedVals(shape.aggs, storedType): _*)
  }

  // ------------------------------------- COUNT(DISTINCT) aux frames

  /** Aux population at CREATE / full REFRESH: per-(group keys, value)
    * live row counts over the already-WHERE-filtered base relation
    * (NULL values never count toward a distinct count or an extreme).
    * Stored under `auxDir(alias)` inside the view's version dir.
    *
    * Cost model: the aux MERGE is O(touched) (the signed delta joins
    * the stored aux on the view key), and since round 18 the aux
    * WRITE is O(touched buckets) too — the bucketed manifest layout
    * this paragraph used to name as future work (see the bucketed
    * aux store section above): a refresh rewrites only the buckets
    * its delta's group keys hash into and references the rest from
    * the previous store versions, so even a near-unique value column
    * under COUNT(DISTINCT)/MIN/MAX pays frame/64-scale writes per
    * touched bucket, never O(frame). The frame's size stays bounded
    * by DISTINCT (group, value) pairs, and aggregates sharing a
    * value expression share one frame. */
  def auxAggregate(base: DataFrame, keys: Seq[GroupKey],
      a: Agg): DataFrame =
    base.where(expr(auxExpr(a)).isNotNull)
      .groupBy((keys.map(k => expr(k.e).as(k.alias)) :+
        expr(auxExpr(a)).as(CdValCol)): _*)
      .agg(count(lit(1)).as(RowsCol))

  /** The aux's signed delta, derived from the SAME signed frame the
    * main merge consumes — the `__val_<alias>` column becomes the
    * aux's value key; NULL values contribute nothing. */
  def auxSigned(signedRows: DataFrame, groupCols: Seq[String],
      alias: String): DataFrame =
    signedRows.where(col(s"__val_$alias").isNotNull)
      .select((groupCols.map(col) :+
        col(s"__val_$alias").as(CdValCol) :+ col("__sign")): _*)

  /** Merge the stored aux with the signed delta: the aux is itself a
    * self-maintainable COUNT(*) view keyed on (group keys, value) —
    * values whose live support reaches zero vanish, which is exactly
    * what makes the distinct count retract correctly. */
  def auxMerge(auxStored: DataFrame, signedRows: DataFrame,
      groupCols: Seq[String], alias: String): DataFrame =
    mergeSigned(auxStored, auxSigned(signedRows, groupCols, alias),
      groupCols :+ CdValCol, Nil)

  /** Overlay aux-backed aggregates' exact per-group values onto the
    * merged main frame — TOUCHED groups only (the delta's group keys):
    * an untouched group keeps its stored value, so the overlay is
    * O(touched), never a full aux re-aggregation. All `aggs` share
    * ONE merged aux frame (same value expression — auxGroups) and
    * overlay in ONE aggregation + join pass. Per aggregate, the
    * value re-derives from the group's SURVIVING aux values:
    * COUNT(DISTINCT) counts them (absent → 0 — every value retracted
    * or NULL), MIN/MAX take the extreme (absent → NULL — the SQL
    * extreme of zero non-null values), which is exactly what makes
    * these aggregates retract correctly under arbitrary deletes. */
  def overlayAux(main: DataFrame, auxMerged: DataFrame,
      signedRows: DataFrame, groupCols: Seq[String],
      aggs: Seq[Agg]): DataFrame = {
    require(aggs.nonEmpty, "overlayAux needs at least one aggregate")
    val touched = signedRows.select(groupCols.map(col): _*).distinct()
    def keyCond(l: String, r: String) = groupCols
      .map(g => col(s"$l.$g") <=> col(s"$r.$g")).reduce(_ && _)
    def valueCol(a: Agg): String = s"__cdc_${a.alias}"
    val valueAggs: Seq[Column] = aggs.map {
      case a: CountDistinctExpr => count(lit(1)).as(valueCol(a))
      // the aux holds one row per surviving distinct value, so a plain
      // sum/count over it IS the distinct sum / the exact
      // distinct-sum-over-distinct-count division `aggregate` states
      case a: SumDistinctExpr => sum(col(CdValCol)).as(valueCol(a))
      case a: AvgDistinctExpr =>
        (sum(col(CdValCol)) / count(lit(1))).as(valueCol(a))
      case a: MinExpr => min(col(CdValCol)).as(valueCol(a))
      case a: MaxExpr => max(col(CdValCol)).as(valueCol(a))
      case other => throw new IllegalArgumentException(
        s"not an aux-backed aggregate: $other")
    }
    // a touched group with no surviving aux values: zero distinct
    // values → COUNT(DISTINCT) 0, SUM/AVG(DISTINCT)/MIN/MAX NULL —
    // the SQL aggregate over zero non-null inputs
    def absent(a: Agg): Column = a match {
      case _: CountDistinctExpr => lit(0L)
      case _ => lit(null)
    }
    val byAlias = aggs.map(a => a.alias -> a).toMap
    val counts = auxMerged.alias("x")
      .join(touched.alias("t"), keyCond("x", "t"), "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg(valueAggs.head, valueAggs.tail: _*)
    val flagged = touched.withColumn("__cdt", lit(true))
    main.alias("m")
      .join(flagged.alias("f"), keyCond("m", "f"), "left_outer")
      .join(counts.alias("c"), keyCond("m", "c"), "left_outer")
      .select(main.columns.toSeq.map { c =>
        byAlias.get(c) match {
          case Some(a) =>
            when(col("__cdt"), coalesce(col(valueCol(a)), absent(a)))
              .otherwise(col(s"m.$c")).cast(main.schema(c).dataType).as(c)
          case None => col(s"m.$c")
        }
      }: _*)
  }

  // ------------------------------------ sketch-agg retraction path

  /** The shape's SKETCH-backed aggregates (APPROX_COUNT_DISTINCT's
    * HLL, APPROX_PERCENTILE's KLL): the ones whose state cannot
    * retract a value, so their refresh dispatches union vs
    * touched-group recompute on the engine's probe. */
  def sketchAggs(aggs: Seq[Agg]): Seq[Agg] = aggs.collect {
    case a: AcdExpr => a
    case a: PctlExpr => a
  }

  private def acdSketchCol(alias: String): String = s"__acd_sk_$alias"
  private def rcSupportCol(alias: String): String = s"__acd_n_$alias"

  /** Re-aggregate the SKETCHES of the TOUCHED groups from current
    * state: `prunedState` is the view's WHERE-filtered base relation,
    * engine-restricted to (a superset of) the touched groups' rows —
    * the identical sketch aggregations the full aggregation runs, so
    * an overlaid group's sketch and surfaced value equal a full
    * refresh's by construction (a group whose values are all NULL
    * re-derives the empty sketch — HLL estimate 0, KLL quantile NULL
    * through the recomputed support — same as CREATE). Extra untouched
    * groups in the superset are computed and then ignored by the
    * overlay's touched flag. */
  def recomputeSketches(prunedState: DataFrame, keys: Seq[GroupKey],
      sketches: Seq[Agg]): DataFrame = {
    require(sketches.nonEmpty, "recomputeSketches needs an aggregate")
    val aggCols = sketches.flatMap {
      case AcdExpr(e, a) => Seq(hll_sketch_agg(expr(e)).as(acdSketchCol(a)))
      case PctlExpr(e, a, _) =>
        val v = expr(e).cast("double")
        Seq(kllAgg(v).as(acdSketchCol(a)), count(v).as(rcSupportCol(a)))
      case other => throw new IllegalArgumentException(
        s"not a sketch aggregate: $other")
    }
    prunedState
      .groupBy(keys.map(k => expr(k.e).as(k.alias)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Overlay the recomputed sketches and surfaced values onto the
    * merged main frame — TOUCHED groups only (the signed delta's group
    * keys): a retraction invalidates only the groups the delta
    * touches, so untouched groups keep their stored sketch and value
    * and the overlay is O(touched). A touched group absent from
    * `recomputed` has zero surviving rows and already vanished from
    * the merge (live-row count 0), so the left join's NULL arm never
    * surfaces. */
  def overlaySketches(main: DataFrame, recomputed: DataFrame,
      signedRows: DataFrame, groupCols: Seq[String],
      sketches: Seq[Agg]): DataFrame = {
    require(sketches.nonEmpty, "overlaySketches needs an aggregate")
    val touched = signedRows.select(groupCols.map(col): _*).distinct()
    def keyCond(l: String, r: String) = groupCols
      .map(g => col(s"$l.$g") <=> col(s"$r.$g")).reduce(_ && _)
    val byVisible = sketches.map(a => a.alias -> a).toMap
    val byHidden: Map[String, Agg] = sketches.flatMap {
      case a: AcdExpr => Seq(sketchCol(a.alias) -> a)
      case a: PctlExpr => Seq(kllCol(a.alias) -> a,
        supportCol(a.alias) -> a)
      case other => throw new IllegalArgumentException(
        s"not a sketch aggregate: $other")
    }.toMap
    val flagged = touched.withColumn("__acdt", lit(true))
    main.alias("m")
      .join(flagged.alias("f"), keyCond("m", "f"), "left_outer")
      .join(recomputed.alias("c"), keyCond("m", "c"), "left_outer")
      .select(main.columns.toSeq.map { c =>
        def touchedValue(a: Agg): Column = a match {
          case AcdExpr(_, al) =>
            hll_sketch_estimate(col(s"c.${acdSketchCol(al)}"))
          case PctlExpr(_, al, p) =>
            when(coalesce(col(s"c.${rcSupportCol(al)}"), lit(0L)) > 0,
              kllQuantile(col(s"c.${acdSketchCol(al)}"), p))
          case other => throw new IllegalArgumentException(
            s"not a sketch aggregate: $other")
        }
        def touchedHidden(a: Agg): Column =
          if (c == supportCol(a.alias))
            coalesce(col(s"c.${rcSupportCol(a.alias)}"), lit(0L))
          else col(s"c.${acdSketchCol(a.alias)}")
        byVisible.get(c) match {
          case Some(a) =>
            when(col("__acdt"), touchedValue(a))
              .otherwise(col(s"m.$c")).cast(main.schema(c).dataType).as(c)
          case None => byHidden.get(c) match {
            case Some(a) =>
              when(col("__acdt"), touchedHidden(a))
                .otherwise(col(s"m.$c")).cast(main.schema(c).dataType).as(c)
            case None => col(s"m.$c")
          }
        }
      }: _*)
  }
}
