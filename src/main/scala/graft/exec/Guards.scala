package graft.exec

import graft.catalog.{Constraint, TableDef}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The integrity guards of a DML statement, in one place: what a write
  * must prove (pk and UNIQUE uniqueness, NOT NULL, CHECK, RLS WITH
  * CHECK, foreign keys in both directions) and how its verdict is
  * reached. The reference checks constraints row by row
  * (constraints.rs:330-520) and FKs by re-entering its query path
  * (fk.rs:92-147); here every guard is set-based.
  *
  * The probe contract:
  *   - a guard is a probe: a frame with one message row (`_err`) per
  *     violation. A statement's probes union into ONE limit-1 job, and
  *     the first message found is the statement's error
  *     (IllegalArgumentException, the message verbatim);
  *   - a literal batch (its plan optimizes to a LocalRelation) is
  *     decided on the driver as far as Catalyst folds it: within-batch
  *     duplicates are settled while the probes are built, and a probe
  *     that folds to a LocalRelation is a violation when non-empty and
  *     drops out when empty. A doomed literal statement raises with no
  *     job and no staging dir, and a literal statement whose probes all
  *     fold runs no guard job;
  *   - outside a transaction the union job (and the building of the
  *     probes, which plans state reads and may collect inline keys)
  *     runs on a fork beside the staging write and is joined at the
  *     publish's commit point. Inside a transaction it runs inline:
  *     nothing is visible before COMMIT anyway;
  *   - a probe violation outranks any other failure of the statement
  *     after the probes started (a staging fault, a failed publish);
  *   - inline keys: a probe that restricts the other side of a check
  *     by the batch's keys inlines at most [[Guards.InlineKeyCap]]
  *     distinct keys as an IN-list, so the scan prunes to the row
  *     groups holding them (pushdown, min/max, blooms) — which a semi
  *     join's runtime key set never gets. Past the cap the set-based
  *     semi or anti join alone is correct and scale-right.
  *
  * The engine builds one with itself; every entry point runs inside
  * the statement that called it. */
final class Guards private[exec] (engine: QueryEngine) {
  import Guards._
  import engine.{catalog, stateAt}

  // ======================================================= probe sets

  /** The probes of row images about to land in `t`: INSERT and COPY
    * (`touched` None) or UPDATE (`touched` its SET columns, `matched`
    * the rows it rewrites). `survivors` are the current rows that
    * outlive the statement: the state for an INSERT, the state minus
    * `matched` for an UPDATE. `pkUnique` says the statement writes pk
    * values that must be unique: every INSERT and an UPDATE that
    * assigns the pk; COPY's bulk contract skips it (a duplicate key
    * collapses last-write-wins).
    *
    * Probe order: pk uniqueness, the pk's implicit NOT NULL and the
    * declared constraints in catalog order, RLS WITH CHECK, outgoing
    * FKs, and for an UPDATE the RESTRICT of columns other rows
    * reference. */
  def ofWrite(t: TableDef, rows: DataFrame, survivors: => DataFrame,
      touched: Option[Set[String]], pkUnique: Boolean,
      matched: Option[DataFrame] = None): Seq[DataFrame] = {
    val dupPk = touched.fold(s"duplicate primary key within INSERT batch on ${t.name}")(
      _ => s"UPDATE produces duplicate primary keys on ${t.name}")
    (if (pkUnique)
      unique(rows, Seq(t.pk), survivors, nullsCollide = true, dupPk,
        s"primary key already exists in ${t.name}")
     else Nil) ++
      constraintProbes(t, rows, survivors, touched) ++
      rlsCheckProbes(t.name, rows, touched.fold("INSERT")(_ => "UPDATE")) ++
      fkOutgoingProbes(t, rows, touched) ++
      (for (ts <- touched.toSeq; m <- matched.toSeq;
            p <- fkOnUpdateProbes(t, ts, survivors, m, rows)) yield p)
  }

  /** The probes of a DELETE: RESTRICT, like the reference (fk.rs:20-23,
    * 113-147). A parent row cannot go away while any child row
    * references it; rows removed by this same statement do not block
    * it (self-FK chains delete together). */
  def ofDelete(t: TableDef, deleted: DataFrame): Seq[DataFrame] = {
    val incoming = catalog.referencingFks(t.name)
    if (incoming.isEmpty) return Nil
    val keysOf = inlineKeys(deleted)
    for ((child, childCol, parentCol) <- incoming) yield {
      val msg = s"foreign key violation: cannot delete from ${t.name} — $child.$childCol references it"
      def joinProbe: DataFrame = {
        // above the inline cap: prune the child scan where possible,
        // then the semi join against the batch
        val childState = inlineKeyFilter(stateAt(child, None), childCol,
          deleted, parentCol)
        restricted(
          if (child == t.name)
            childState.join(deleted.select(col(t.pk)), Seq(t.pk), "left_anti")
          else childState,
          childCol, deleted.select(col(parentCol).as(FkKey)), msg)
      }
      keysOf(parentCol) match {
        case Some(vals) if vals.isEmpty =>
          // no deletable keys -> nothing can reference them; an empty
          // LocalRelation lets PropagateEmptyRelation erase the probe
          engine.emptyFrame(ErrSchema)
        case Some(vals) =>
          // small batch: the probe is a pure scan-stage IN-list filter
          // on the child state — row groups prune by min/max + bloom,
          // and the plan carries NO join or exchange at all
          val base = stateAt(child, None)
            .where(col(childCol).isNotNull && col(childCol).isin(vals: _*))
          if (child != t.name) base.select(violation(msg))
          else keysOf(t.pk) match {
            // self-FK: rows deleted by this same statement never block
            case Some(pks) if pks.nonEmpty =>
              base.where(!col(t.pk).isin(pks: _*)).select(violation(msg))
            case Some(_) => base.select(violation(msg))
            case None => joinProbe
          }
        case None => joinProbe
      }
    }
  }

  // ========================================================= verdict

  /** The verdict of a statement's `probes` over a batch that is
    * `literal` or not (see the class doc): a literal batch builds its
    * probes here and folds them on the driver; what is left runs as
    * one union job, inline inside a transaction and otherwise forked
    * into `par` beside the staging write. The returned handle joins
    * that job and raises its first violation; it is idempotent. */
  def verdict(par: Par.Scope, probes: () => Seq[DataFrame],
      literal: Boolean): Verdict = {
    def run(ps: => Seq[DataFrame]): Verdict =
      if (engine.inTransaction) { raiseFirstViolation(ps); Passed }
      else { val f = par.fork(raiseFirstViolation(ps)); new Verdict(() => f.join()) }
    if (probes eq NoProbes) Passed
    else if (literal) {
      val remaining = dropFoldedProbes(probes())
      if (remaining.isEmpty) Passed else run(remaining)
    }
    else run(probes())
  }

  // ========================================================== probes

  /** Uniqueness of `cols` in a batch about to land: no two batch rows
    * share a key (`dupMsg`) and no batch key is held by a row of
    * `survivors` (`clashMsg`). `nullsCollide` is the primary key's rule
    * (two NULL keys are duplicates); UNIQUE's NULLs never collide (PG
    * NULLS DISTINCT; constraints.rs:430-447 skips nulls too).
    *
    * A literal batch settles its within-batch duplicates on the driver
    * (aggregates don't constant-fold, so the groupBy probe would be the
    * one job a doomed literal statement still pays), and a literal
    * batch of at most InlineKeyCap rows checks a single-column key
    * against survivors as an inlined IN-list. Otherwise: the groupBy
    * probe and a semi join. */
  private def unique(batch: DataFrame, cols: Seq[String],
      survivors: => DataFrame, nullsCollide: Boolean, dupMsg: String,
      clashMsg: String): Seq[DataFrame] = {
    val nn = cols.map(col(_).isNotNull).reduce(_ && _)
    val dups = literalBatchDup(batch, cols, skipNulls = !nullsCollide) match {
      case Some(true) => throw new IllegalArgumentException(dupMsg)
      case Some(false) => Nil
      case None => Seq((if (nullsCollide) batch else batch.where(nn))
        .groupBy(cols.map(col): _*).agg(count(lit(1)).as("_n"))
        .where(col("_n") > 1).select(violation(dupMsg)))
    }
    val clash = (cols, batch.queryExecution.optimizedPlan) match {
      case (Seq(c), lr: LocalRelation) if lr.data.length <= InlineKeyCap =>
        val ks = collectInlineKeys(batch, c)
        if (ks.isEmpty) Nil // an all-NULL batch can collide with nothing
        else Seq(survivors.where(col(c).isin(ks: _*)).select(violation(clashMsg)))
      case _ => Seq(batch.where(nn)
        .join(survivors.where(nn).select(cols.map(col): _*), cols, "left_semi")
        .select(violation(clashMsg)))
    }
    dups ++ clash
  }

  /** The pk's implicit NOT NULL wherever the statement writes it (an
    * event needs its key: SURVEY §5, "PK required") and the declared
    * NOT NULL, CHECK and UNIQUE constraints. CHECK passes on TRUE or
    * NULL (PG). A UNIQUE set none of whose columns an UPDATE assigns
    * cannot be violated, so it is not probed; NOT NULL and CHECK always
    * probe (over full-row images each is one filter either way). */
  private def constraintProbes(t: TableDef, batch: DataFrame,
      survivors: => DataFrame, touched: Option[Set[String]]): Seq[DataFrame] =
    ((if (touched.forall(_(t.pk))) Seq(Constraint.NotNull(t.pk)) else Nil) ++
      catalog.constraintsOf(t.name)).distinct.flatMap {
      case Constraint.NotNull(c) =>
        Seq(batch.where(col(c).isNull).select(
          violation(s"null value in column $c of ${t.name} violates NOT NULL")))
      case Constraint.Check(e) =>
        Seq(batch.where(not(coalesce(expr(e), lit(true)))).select(
          violation(s"row in ${t.name} violates CHECK ($e)")))
      case Constraint.Unique(cs) if touched.forall(ts => cs.exists(ts)) =>
        val msg = s"duplicate key violates UNIQUE (${cs.mkString(", ")}) on ${t.name}"
        unique(batch, cs, survivors, nullsCollide = false, msg, msg)
      case _ => Nil
    }

  /** WITH CHECK violations in a written batch (PG raises `new row
    * violates row-level security policy`; the reference's check_access
    * does the same per row — row_level_security.rs:289-340). */
  private def rlsCheckProbes(table: String, rows: DataFrame,
      command: String): Seq[DataFrame] =
    engine.rlsCheckPredicate(table, command).toSeq.map(c =>
      rows.where(!c).select(
        violation(s"new row violates row-level security policy for $table")))

  /** Rows about to land in `t` must reference existing parent keys; a
    * NULL FK value passes (MATCH SIMPLE, the PG default — fk.rs:73-77).
    * One left-anti join per FK instead of the reference's per-row
    * parent scan (fk.rs:92-101); AQE broadcasts the parent key set when
    * it is small, and small batches inline their keys into the parent
    * scan (inlineKeyFilter). A self-referencing FK also sees keys from
    * the batch itself (a row may reference a sibling written by the
    * same statement). An FK column an UPDATE's SET list leaves alone is
    * not re-checked (PG behavior, fk.rs:150-181). */
  private def fkOutgoingProbes(t: TableDef, rows: DataFrame,
      touched: Option[Set[String]]): Seq[DataFrame] =
    for ((c, rt, rc) <- catalog.foreignKeysOf(t.name) if touched.forall(_(c))) yield {
      val parent0 = inlineKeyFilter(stateAt(rt, None), rc, rows, c)
        .select(col(rc).as(FkKey))
      val parent = if (rt == t.name)
        parent0.unionByName(rows.select(col(rc).as(FkKey)))
      else parent0
      rows.where(col(c).isNotNull)
        .join(parent, col(c) === col(FkKey), "left_anti")
        .select(violation(
          s"foreign key violation: ${t.name}.$c references missing key in $rt.$rc"))
    }

  /** RESTRICT for the parent side of an UPDATE, mirroring DELETE's:
    * rewriting a column other tables reference must not orphan their
    * rows (ON UPDATE actions parse but act as RESTRICT). A key counts as
    * removed when a matched row held it before the statement and no row
    * holds it after it — matched rows carry their new values, the
    * survivors keep their old ones. Only a matched key can be removed,
    * so when the matched batch's keys fit the inline cap (one collect
    * from the pinned batch, as in `ofDelete`) the survivors and the
    * child read are filtered by that IN-list: both scans prune to the
    * row groups holding the keys. */
  private def fkOnUpdateProbes(t: TableDef, touched: Set[String],
      survivors: => DataFrame, matched: DataFrame,
      updated: DataFrame): Seq[DataFrame] = {
    val incoming = catalog.referencingFks(t.name).filter(f => touched(f._3))
    if (incoming.isEmpty) return Nil
    val untouched = survivors
    val keysOf = inlineKeys(matched)
    for ((child, childCol, parentCol) <- incoming) yield {
      val keys = keysOf(parentCol)
      if (keys.exists(_.isEmpty)) engine.emptyFrame(ErrSchema) // nothing held a key
      else {
        def inKeys(df: DataFrame, c: String): DataFrame =
          keys.fold(df)(ks => df.where(col(c).isin(ks: _*)))
        val after = inKeys(untouched, parentCol).select(col(parentCol).as(FkKey))
          .unionByName(updated.select(col(parentCol).as(FkKey)))
        val removed = matched.select(col(parentCol).as(FkKey)).except(after)
        // a self-referencing child is judged on its own post-update rows
        val childRows = if (child == t.name) untouched.unionByName(updated)
          else stateAt(child, None)
        restricted(inKeys(childRows, childCol), childCol, removed,
          s"foreign key violation: cannot change ${t.name}.$parentCol — $child.$childCol references it")
      }
    }
  }

  /** The inline keys of a RESTRICT's parent-side batch (DELETE's
    * deleted rows, UPDATE's matched rows), one bounded collect per
    * referenced column shared by every child probe: Some(keys) below
    * the cap (empty when the batch holds no non-null value: the probe
    * is provably empty), None above it. The caller pinned the batch, so
    * each collect reads blocks, and it is free on a LocalRelation. */
  private def inlineKeys(batch: DataFrame): String => Option[IndexedSeq[Any]] = {
    val cache = scala.collection.mutable.HashMap.empty[String, Option[IndexedSeq[Any]]]
    c => cache.getOrElseUpdate(c,
      Some(collectInlineKeys(batch, c)).filter(_.length <= InlineKeyCap))
  }

  /** RESTRICT's per-child tail: the child's rows after the statement
    * whose non-NULL key is among the removed keys (`removed`, one
    * column named FkKey), as violations. */
  private def restricted(childRows: DataFrame, childCol: String,
      removed: DataFrame, msg: String): DataFrame =
    childRows.where(col(childCol).isNotNull)
      .join(removed, col(childCol) === col(FkKey), "left_semi")
      .select(violation(msg))
}

object Guards {

  /** Sentinel for "no guard probes": the verdict is passed without a
    * fork (the second append of a pk-changing UPDATE, whose first
    * append carries the probes). */
  val NoProbes: () => Seq[DataFrame] = () => Nil

  /** Max distinct keys inlined as an IN-list into a probe's scanned
    * side. Below the cap, a DML statement's probe prunes the OTHER
    * table's scan to the row groups holding the probed keys (the
    * keyed collapse pushes pk predicates; min/max + bloom do the
    * skipping) — a point probe instead of a full-table collapse per
    * statement. Past the cap the join shape alone is correct and
    * scale-right (AQE broadcasts the smaller side). */
  val InlineKeyCap = 256

  /** The first column's values of `df`, at most InlineKeyCap + 1 of
    * them, NULLs kept: a result LONGER than the cap means "does not
    * inline". One action (a CollectLimit), no distinct. */
  def cappedValues(df: DataFrame): IndexedSeq[Any] =
    df.limit(InlineKeyCap + 1).collect().map(_.get(0)).toIndexedSeq

  /** The shared inline-key overflow probe: `batch`'s distinct non-null
    * `keyCol` values, capped (see cappedValues). NULLs drop BEFORE the
    * limit — filtered after it, a NULL in the sample would mask the
    * (cap+1)-th key and silently truncate the key set.
    *
    * Two-phase: a RAW limit probe first — CollectLimit over the pruned
    * scan, no exchange — which is exact whenever the batch itself has
    * at most cap+1 non-null rows (the 1-row refresh, the OLTP DML
    * probe: the overwhelmingly common case, measured ~230 ms -> ~80 ms
    * on a warm refresh's touched-keys job), and free on a
    * LocalRelation. A batch with MORE non-null rows than the cap pays
    * a second action, the distinct collect; the raw probe's cost is
    * noise next to the bulk work that always follows such a batch. */
  def collectInlineKeys(batch: DataFrame, keyCol: String): IndexedSeq[Any] = {
    val proj = batch.select(col(keyCol)).where(col(keyCol).isNotNull)
    val raw = cappedValues(proj)
    if (raw.length <= InlineKeyCap) raw.distinct
    else cappedValues(proj.distinct())
  }

  /** Restrict `df` to rows whose `column` is among the (pinned, small)
    * batch's distinct `keyCol` values — semantics-preserving for a
    * probe that only asks about the batch's keys: a row with a key
    * outside the batch can never produce a violation row. Falls back
    * to `df` unchanged when the batch exceeds the cap. */
  def inlineKeyFilter(df: DataFrame, column: String, batch: DataFrame,
      keyCol: String): DataFrame = {
    val vals = collectInlineKeys(batch, keyCol)
    if (vals.nonEmpty && vals.length <= InlineKeyCap)
      df.where(col(column).isin(vals: _*))
    else df
  }

  /** A statement's guard verdict. `apply()` waits for it and raises the
    * first violation; it is idempotent. `outranks(body)` runs the rest
    * of the statement, and when `body` throws, a violation is raised in
    * its place: the sequential path raised probes before staging ever
    * started, so a doomed statement keeps its probe error. */
  final class Verdict private[Guards] (join: () => Unit) extends (() => Unit) {
    def apply(): Unit = join()

    def outranks[T](body: => T): T =
      try body
      catch {
        case e: Throwable =>
          try join()
          catch { case pe: Throwable if pe ne e => throw pe }
          throw e
      }
  }

  private val Passed = new Verdict(() => ())

  /** The message column of every probe, and the empty probe's schema. */
  private val Err = "_err"
  private val ErrSchema = StructType(Seq(StructField(Err, StringType)))
  private def violation(msg: String): Column = lit(msg).as(Err)

  /** The key column an FK probe joins against: the parent keys of an
    * outgoing check, the removed keys of a RESTRICT. */
  private val FkKey = "_fk_key"

  /** Decide on the driver every probe Catalyst constant-folds to a
    * LocalRelation, returning only the probes that still need a job.
    * For a literal VALUES batch the row-local guards — NOT NULL, CHECK,
    * RLS WITH CHECK — are Filter+Project chains over the batch's
    * LocalRelation, and ConvertToLocalRelation evaluates them entirely
    * at optimization time: a folded non-empty probe IS the violation,
    * a folded empty probe is proof the guard holds and drops from the
    * union. Only called when the batch itself is literal, so
    * state-reading probes never pay a standalone optimizer pass just to
    * learn they don't fold. A probe that stays is returned as a frame
    * of its optimized plan: the union job plans from what this pass
    * already did, so a driver point read it made (an FK probe's read
    * of its parent by key) is not made again on the verdict fork. */
  private def dropFoldedProbes(probes: Seq[DataFrame]): Seq[DataFrame] =
    probes.flatMap { p =>
      p.queryExecution.optimizedPlan match {
        case lr: LocalRelation =>
          if (lr.data.nonEmpty)
            throw new IllegalArgumentException(lr.data.head.getString(0))
          None
        case plan => Some(GraftBridge.frameOf(p.sparkSession, plan))
      }
    }

  /** Some(true/false) = the (literal LocalRelation) batch does/doesn't
    * carry two rows sharing values in `cols`, decided on the driver
    * with no job; None = the batch isn't literal — use the distributed
    * aggregate probe. `skipNulls` gives UNIQUE semantics (rows with any
    * NULL key never collide); primary keys keep null-equals-null so two
    * NULL pks still raise, matching the groupBy probe they replace. */
  private def literalBatchDup(df: DataFrame, cols: Seq[String],
      skipNulls: Boolean): Option[Boolean] =
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation =>
        val idx = cols.map(c => lr.output.indexWhere(_.name == c))
        if (idx.exists(_ < 0)) None
        else {
          val dts = idx.map(lr.output(_).dataType)
          // SQL grouping normalizes -0.0 to 0.0 (NormalizeFloatingNumbers
          // under the distributed groupBy probe); boxed
          // Double/Float.equals does not — normalize here so the
          // driver-side verdict matches the probe it replaces. Boxed
          // NaN.equals(NaN) is true, which already matches grouping.
          def norm(v: Any): Any = v match {
            case d: Double if d == 0.0 => 0.0
            case f: Float if f == 0.0f => 0.0f
            case other => other
          }
          val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
          Some(lr.data.exists { r =>
            val anyNull = idx.exists(r.isNullAt)
            if (anyNull && skipNulls) false
            else !seen.add(idx.indices.map(i =>
              if (r.isNullAt(idx(i))) null else norm(r.get(idx(i), dts(i)))))
          })
        }
      case _ => None
    }

  /** Union the probes into ONE job and raise on the first hit. */
  private def raiseFirstViolation(probes: Seq[DataFrame]): Unit =
    if (probes.nonEmpty) {
      val bad = probes.reduce(_ unionByName _).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(bad(0).getString(0))
    }
}
