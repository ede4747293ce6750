package graft.exec

import graft.catalog.TableDef
import graft.log.EventLog
import graft.sql.IncrementalView
import graft.state.{Snapshots, StateView}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Materialized views, in one place (the reference keeps views in their
  * own module too, views.rs:40-123): CREATE MATERIALIZED VIEW
  * population, REFRESH (full and incremental), REFRESH ALL, ALTER ...
  * AUTOREFRESH, SHOW MATERIALIZED VIEWS, the auto-refresh hook and the
  * stored-view read.
  *
  * A view is stored as numbered version dirs: a refresh writes the next
  * version, then swaps the catalog pointer. A view whose SQL parses
  * into an [[IncrementalView.Shape]] over engine tables is stored with
  * hidden support columns and aux frames, so REFRESH ... INCREMENTALLY
  * can merge the signed delta of the rows touched since its recorded
  * horizons; any other view refreshes by re-running its query.
  *
  * The engine builds one with itself. Every entry point runs under the
  * engine's write lock, inside the statement that called it. */
final class MatViews private[exec] (engine: QueryEngine) {
  import MatViews._
  import Guards.{cappedValues, collectInlineKeys, InlineKeyCap}
  import engine.commit.encrypted
  import engine.{catalog, events, select, spark, stateAt,
    summary, tracer}

  // ========================================================= statements

  /** CREATE MATERIALIZED VIEW: the view's rows as of now, stored
    * as version 0. It materializes current state, which inside a
    * transaction would include (and persist) uncommitted buffered
    * writes, so it refuses to run inside one. */
  def create(name: String, viewSql: String, orReplace: Boolean): DataFrame = {
    if (engine.inTransaction)
      throw new IllegalStateException(
        "CREATE MATERIALIZED VIEW cannot run inside a transaction")
    if (orReplace) catalog.dropView(name, ifExists = true)
    if (catalog.get(name).isDefined || catalog.getView(name).isDefined)
      throw new IllegalArgumentException(s"table or view already exists: $name")
    engine.requireUnfilteredPopulation("CREATE MATERIALIZED VIEW", viewSql)
    // data lands before the registration: a registered matview is
    // always readable (crash between the two leaves only an
    // unreferenced data dir, cleaned by the next CREATE or DROP); a
    // shape's horizons land in ONE catalog save (a crash mid-way must
    // not leave partial horizons)
    val hs = materialize(name, viewSql, 0L)
    catalog.createMaterializedView(name, viewSql)
    hs.foreach(catalog.setMviewRefreshed(name, 0L, _))
    summary("materialized_view_created", 0L, 0L)
  }

  /** REFRESH MATERIALIZED VIEW [INCREMENTALLY]. The NEXT version dir
    * is written, then the catalog pointer swaps — readers see the old
    * version until the new one is complete (views.rs:40-123 refresh;
    * the versioned-dir swap is how an object store serves this without
    * read-write races). */
  def refresh(name: String, incremental: Boolean): DataFrame = {
    if (engine.inTransaction)
      throw new IllegalStateException(
        "REFRESH MATERIALIZED VIEW cannot run inside a transaction")
    if (!catalog.isMaterialized(name))
      throw new IllegalArgumentException(s"materialized view not found: $name")
    val viewSql = catalog.getView(name).get
    engine.requireUnfilteredPopulation("REFRESH MATERIALIZED VIEW", viewSql)
    val prev = catalog.mviewVersion(name)
    val op =
      if (!incremental) {
        materialize(name, viewSql, prev + 1) match {
          case Some(hs) => catalog.setMviewRefreshed(name, prev + 1, hs)
          case None => catalog.setMviewVersion(name, prev + 1)
        }
        "refreshed"
      } else shapeOf(viewSql) match {
        case Some(sh) =>
          refreshIncrementally(name, sh, prev)
          "refreshed_incremental"
        case None =>
          throw new IllegalArgumentException(
            s"$name is not incrementally maintainable: the view must be " +
              "SELECT <group cols>, COUNT/SUM/AVG/COUNT(DISTINCT)/" +
              "SUM(DISTINCT)/AVG(DISTINCT)/APPROX_COUNT_DISTINCT/" +
              "APPROX_PERCENTILE(e, p)/" +
              "MIN/MAX aggregates FROM " +
              "<engine table> [WHERE ...] GROUP BY <group cols>, or the " +
              "same aggregates FROM <table> JOIN <table> ON " +
              "<t1>.<col> = <t2>.<col> [WHERE ...] GROUP BY ... — run " +
              "a full REFRESH instead")
      }
    // a successful explicit refresh un-mutes a previously failed
    // auto refresh — the operator's documented recovery path
    autoRefreshMuted -= name
    if (prev >= 1 && catalog.mviewVersion(name) > prev) {
      // reclaim version prev-1, NOT prev: a concurrent lock-free
      // reader may hold an already-analyzed plan over the version we
      // just superseded — one grace version keeps it scannable, and
      // storage stays bounded at two versions
      val p = new Path(catalog.mviewDataPath(name, prev - 1))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      scala.util.Try(fs.delete(p, true))
      // a bucketed aux store version stays alive exactly as long as a
      // RETAINED manifest (versions prev and prev+1) points at one of
      // its buckets; everything else — including versions orphaned by
      // a crash between bucket write and catalog publish — reclaims here
      for (alias <- auxAliases(viewSql)) {
        val referenced = Seq(prev, prev + 1).flatMap(v =>
          readAuxManifest(catalog.mviewDataPath(name, v), alias)
            .toSeq.flatten).toSet
        val root = new Path(catalog.mviewAuxStoreRoot(name, alias))
        if (referenced.nonEmpty && fs.exists(root))
          scala.util.Try(fs.listStatus(root).foreach { st =>
            val n = st.getPath.getName
            if (n.startsWith("v=") &&
                !referenced.contains(n.stripPrefix("v=").toLong))
              fs.delete(st.getPath, true)
          })
      }
    }
    summary(op, 0L, 0L)
  }

  /** The aux-store alias of each distinct aux value expression of a
    * maintainable view (one store per expression, see auxGroups); empty
    * for any other view. */
  private def auxAliases(viewSql: String): Seq[String] =
    shapeOf(viewSql).fold(Seq.empty[String])(sh =>
      IncrementalView.auxGroups(sh.aggs).map(_._1.alias))

  /** Write the view's `version` from every base table's current state.
    * A maintainable shape stores its hidden support columns and aux
    * frames and returns the per-table horizons it was read at, so a
    * later INCREMENTALLY continues from there; any other view stores a
    * re-run of its query and returns None. CREATE and full REFRESH both
    * land here. */
  private def materialize(name: String, viewSql: String, version: Long)
      : Option[Map[String, Long]] =
    shapeOf(viewSql) match {
      case Some(sh) => Some(populateShape(name, sh, version))
      case None =>
        encrypted(select(viewSql).write).mode("overwrite")
          .parquet(catalog.mviewDataPath(name, version))
        None
    }

  /** INCREMENTAL refresh: merge the signed contributions of only the
    * rows TOUCHED since the last refresh horizons — the
    * counting-algorithm TELESCOPING delta (for one table just ΔA, for
    * two ΔA⋈B_new + A_old⋈ΔB) over the touched rows of each table,
    * exact under ARBITRARY updates/deletes (a sketch-bearing view
    * additionally probes the delta for negative-signed sketch values —
    * see `retracts` below). Each Δ side's state reads are restricted to
    * touched pks; the aggregation shuffles O(touched) rows and the
    * merge joins on the view's own key space — never a full
    * re-aggregation. Every delta term carries at least one Δ side, and
    * each FULL side of a join prunes to the keys that reach a delta, so
    * a small refresh reads only the matching row groups of a 100 TB
    * partner table instead of scanning it. When no base table advanced,
    * the stored version stays as it is. */
  private def refreshIncrementally(name: String, sh: IncrementalView.Shape,
      prev: Long): Unit = {
    val bases = catalog.mviewBaseAll(name)
    val sides = sh.tables
    if (!sides.forall(bases.contains))
      throw new IllegalStateException(
        s"$name has no recorded refresh horizon — run a full " +
          "REFRESH first")
    for (tn <- sides) {
      catalog.require(tn)
      if (catalog.retentionFloor(tn) > bases(tn))
        throw new IllegalStateException(
          s"events since the last refresh horizon " +
            s"@SEQ:${bases(tn)} of $name were vacuumed — run a " +
            "full (non-incremental) REFRESH")
      if (catalog.lastSeq(tn) < bases(tn))
        throw new IllegalStateException(
          s"$name's refresh horizon @SEQ:${bases(tn)} is ahead " +
            s"of $tn's sequence counter (${catalog.lastSeq(tn)}) " +
            "— the table was dropped and recreated. Run a full " +
            "(non-incremental) REFRESH")
    }
    val horizons = sides.map(tn => tn -> catalog.lastSeq(tn)).toMap
    val touchedIdx = sides.indices
      .filter(i => horizons(sides(i)) > bases(sides(i)))
    if (touchedIdx.isEmpty) return
    // the touched delta sides (and the frames below that several
    // consumers re-read) are pinned: the k telescoping terms and the
    // cascade sources each re-reference them, and without the cache
    // every consumer would re-plan the touched-pk state reads.
    // O(touched) rows, so each pin is bounded.
    val pin = new RefreshPins
    try {
      // one touched-key collection per touched table, shared
      // between the delta restrictors (semi) and the derived
      // old-prefix anti filters below; each is an independent
      // pruned inline-key collect, so they run in parallel
      val touchedFor = tracer.span("touched-keys-warm",
          s"${sides.size} sides") {
        Par.all(spark.sparkContext, touchedIdx.map(sides))(tn =>
          tn -> touchedFilters(catalog.require(tn), bases(tn),
            horizons(tn))).toMap
      }
      // old/new state of the touched pks; an untouched side
      // contributes an empty delta (its terms vanish). Where
      // the two bounds share a checkpoint source, BOTH sides
      // come off one pinned two-bound collapse (one scan + one
      // Exchange per table instead of two).
      def deltaSides(tn: String): (DataFrame, DataFrame) =
        if (horizons(tn) <= bases(tn)) {
          val empty = stateAt(tn, Some(horizons(tn))).where(lit(false))
          (empty, empty)
        } else {
          val restrict = touchedFor(tn)._1
          fusedHorizonStates(catalog.require(tn), bases(tn),
              horizons(tn)) match {
            case Some(f) => fusedSides(pin(restrict(f)))
            case None =>
              (pin(restrict(stateAt(tn, Some(bases(tn))))),
                pin(restrict(stateAt(tn, Some(horizons(tn))))))
          }
        }
      val deltas = sides.map(deltaSides)
      // Full-side pruning, any chain length: every
      // telescoping term joins its full sides against exactly
      // one delta somewhere along the chain, so a full
      // side only contributes rows that REACH some touched
      // table's delta through the links. From each touched
      // table, cascade its delta's join-key values outward:
      // restrict the neighbor to those keys (a pruned scan by
      // pushdown below the cap, a left-semi against the
      // distributed distinct-key frame past it — no hop ever
      // abandons the path), derive the neighbor's
      // outgoing link keys from that restricted frame,
      // continue to ITS neighbors. Reachability passes through
      // full NEW state unioned with each hop table's OLD delta
      // rows — a term's Δ side can carry old-state rows
      // (deleted since the horizon) that a new-state-only
      // cascade would miss. A full side is pruned to the OR of
      // its per-source restrictions: a row reaching NO delta
      // can contribute to no term (for the singleton term {j}
      // it would have to reach Δj through full state — exactly
      // the cascade's reach relation). At 100 TB this is the
      // difference between a one-row refresh of a 4-table view
      // reading matching row groups of each partner vs
      // scanning every partner per term — and a bulk
      // backfill touching thousands of keys degrades to
      // semi-joins on O(touched reach) key frames, never to
      // raw full partner scans.
      // The sole touched side of a one-touched refresh — every
      // one-table refresh — sits in its only term as the delta,
      // so no term, cascade hop or full side reads its full new
      // state: it stands as an empty frame, and only a sketch
      // recompute (below) reads that state.
      val sole = if (touchedIdx.size == 1) touchedIdx.head else -1
      def newState(i: Int): DataFrame =
        stateAt(sides(i), Some(horizons(sides(i))))
      val fullNew = sides.indices.map(i =>
        if (i == sole) deltas(i)._2.where(lit(false)) else newState(i))
      val idxOf = sides.zipWithIndex
        .map { case (t, i) => t.toLowerCase -> i }.toMap
      // the chain's links as an adjacency list (a tree: each
      // link joins the new table to one earlier table)
      val adj = Array.fill(sides.size)(
        List.empty[(Int, String, String)])
      for ((q1, c1, q2, c2) <- sh.links) {
        val (i1, i2) = (idxOf(q1.toLowerCase), idxOf(q2.toLowerCase))
        adj(i1) ::= ((i2, c1, c2))
        adj(i2) ::= ((i1, c2, c1))
      }
      // legacy tables carrying __graft_ user columns
      // would collide with the cascade's minted key frames —
      // they skip pruning (unpruned full sides are correct,
      // just slower); see carriesHiddenCols
      val legacyHidden =
        sides.exists(tn => carriesHiddenCols(catalog.require(tn)))
      // preds(i): one restriction per touched source whose
      // cascade reached table i — inline predicate or
      // distributed key frame, always bounding
      val preds = Array.fill(sides.size)(List.empty[CascRestrict])
      // Each touched source's BFS is independent — it reads
      // only the pinned deltas, the full-new frames and the
      // adjacency, and every hop blocks on a driver-side key
      // collect. Serially that is k sources × up to (k−1)
      // hops of job latency back to back; forked (Par.all) the
      // refresh pays the LONGEST source chain, not the sum.
      // Results merge in source order so the plan (the OR order
      // of preds) is identical to the sequential construction;
      // hop tags come off an atomic so minted key-frame columns
      // stay unique. RefreshPins is safe to call from the forks.
      val hopTag = new java.util.concurrent.atomic.AtomicInteger(0)
      def cascadeOf(s: Int): List[(Int, CascRestrict)] = {
        val out = List.newBuilder[(Int, CascRestrict)]
        val visited = scala.collection.mutable.Set(s)
        var frontier: List[(Int, DataFrame)] =
          List(s -> deltas(s)._1.unionByName(deltas(s)._2))
        while (frontier.nonEmpty) {
          val next = List.newBuilder[(Int, DataFrame)]
          for ((t, frame) <- frontier;
               (u, ct, cu) <- adj(t) if !visited(u)) {
            visited += u
            val (r, restricted) = cascadeHop(frame, ct,
              fullNew(u).unionByName(deltas(u)._1), cu, pin,
              hopTag.getAndIncrement())
            out += ((u, r))
            next += ((u, restricted))
          }
          frontier = next.result()
        }
        out.result()
      }
      if (!legacyHidden)
        tracer.span("cascade-join", s"${touchedIdx.size} sources") {
          for (rs <- Par.all(spark.sparkContext, touchedIdx)(cascadeOf);
               (u, r) <- rs)
            preds(u) ::= r
        }
      // Key-pruned fulls pin too when the chain has 3+ tables
      // (each full side then appears in 2^(n-1)−1 ≥ 3 terms;
      // at n=2 a full sits in exactly ONE term, so a pin only
      // costs) — but ONLY when every restriction is inline
      // (≤ cap keys per source): a semi-join restriction's
      // reach is unbounded relative to cache capacity (a bulk
      // backfill can make the "pruned" partner ≈ the partner
      // table), and caching ~a 100 TB table to executor disk
      // is worse than rescanning it — there the pinned KEY
      // frames keep the semi-join rebuild cheap and the plain
      // scan is the right plan.
      // Empty frames optimize to local relations, no pin.
      val fulls: Seq[DataFrame] =
        sides.indices.map { i =>
          val ps = preds(i)
          if (i == sole || legacyHidden) fullNew(i)
          else {
            val pruned = applyCascade(fullNew(i), ps)
            val bounded = ps.forall(_.isInstanceOf[CascInline])
            if (sides.size >= 3 && bounded) pin(pruned) else pruned
          }
        }
      val stored = spark.read.parquet(catalog.mviewDataPath(name, prev))
      // The telescoping delta's term for touched side i joins
      // OLD state for every side before i — for an untouched
      // side old equals new (reuse the pruned full), and a
      // TOUCHED side that precedes another touched side
      // DERIVES its old prefix from frames already in hand
      // instead of scanning the old horizon: old state is exactly
      // (new state − touched pks) ∪ old rows of touched pks,
      // so the pruned-and-pinned full-new frame anti-filtered
      // by the same touched-key set, unioned with the pinned
      // old-delta side, IS the (pruned) old state — zero new
      // scans, one broadcast-able anti filter over a pinned
      // frame plus a churn-bounded union. Pruning stays sound:
      // rows the cascade dropped from full-new can reach no
      // delta in any term, and the delta-old rows ride in
      // unpruned (bounded by churn; over-inclusion never
      // changes a term's value, only its cost). Legacy
      // hidden-column tables keep the raw two-scan fallback —
      // their refresh path minted no touched-key frames.
      val fullOlds: Seq[DataFrame] = sides.indices.map { j =>
        if (touchedIdx.contains(j) && touchedIdx.exists(_ > j)) {
          if (legacyHidden) stateAt(sides(j), Some(bases(sides(j))))
          else touchedFor(sides(j))._2(fulls(j))
            .unionByName(deltas(j)._1)
        } else fulls(j)
      }
      // statically-empty deltas drop their terms at
      // construction: k terms for k TOUCHED tables, so a
      // one-fact refresh of a 6-table view plans one term.
      // MULTI-touched refreshes build, analyze and MATERIALIZE
      // each term concurrently on the Par pool: the merge
      // consumes every term, so a serial form would execute one
      // ~k·n-join action whose AQE stage-jobs run back to back —
      // per-term pin jobs overlap instead, and the merge then reads k pinned
      // O(touched-reach) frames (the same bound as every
      // other refresh pin; a pinned term is the term's
      // grouped-contribution rows, never a partner scan).
      // Item order through Par.all keeps the union order
      // identical to the sequential construction.
      val sideFrames = sides.indices.map(i =>
        (deltas(i)._1, deltas(i)._2, fullOlds(i), fulls(i)))
      val untouchedSet =
        sides.indices.filterNot(touchedIdx.contains).toSet
      val delta =
        if (touchedIdx.size <= 1)
          IncrementalView.joinSignedDelta(sh, stored, sideFrames,
            untouched = untouchedSet)
        else tracer.span("delta-terms", s"${touchedIdx.size} terms") {
          Par.all(spark.sparkContext,
              sides.indices.filterNot(untouchedSet)) { i =>
            val p = pin(IncrementalView.joinSignedDeltaTerm(
              sh, stored, sideFrames, i))
            p.count() // materialize the pinned blocks
            p
          }.reduce(_ unionByName _)
        }
      val cds = IncrementalView.auxAggs(sh.aggs)
      val acds = IncrementalView.sketchAggs(sh.aggs)
      // A sketch cannot retract a row, and the union
      // merge folds EVERY +1 row's value in — so it is sound
      // only when every +1 (group, value) pair truly exists in
      // the new joined state, EXACTLY ONCE. That holds when the
      // delta carries NO negative-signed sketch-value rows at
      // all: appends whose new rows join only pre-existing
      // partner rows (facts landing against stable dims — the
      // common shape) produce positive singleton terms only,
      // while telescoping's partition property (a joined row
      // enters the term of the FIRST side whose row is new)
      // keeps each pair to exactly once. Any negative row
      // means a retraction OR a cancelling cross-term pair —
      // a DELETE dim + INSERT fact in one window puts a −1 in
      // the dim's term (Δdim_old × fact_new) cancelled by a
      // +1 in the fact's term (dim_old × Δfact_new), and that
      // +1 is a PHANTOM that never existed in either state,
      // which a net-support probe would wave through into the
      // sketch. So the probe is the strictest
      // cheap condition: one limit-1 job over the delta,
      // no aggregation, all ACD value columns at once; a
      // positive dispatches to the touched-group recompute over
      // the (joined) current state. For one table the probe is
      // "some touched row contributed at the old horizon"; a
      // touched row whose value was NULL, or that the WHERE
      // excluded, contributed nothing to a sketch. Conservative
      // by design — a false positive costs a recompute, never
      // correctness.
      def retracts(sd: DataFrame): Boolean = acds.nonEmpty && {
        val anyVal = acds.map(a =>
          col(s"__val_${a.alias}").isNotNull).reduce(_ || _)
        sd.where(col("__sign") === -1 && anyVal)
          .limit(1).count() > 0
      }
      // persist the delta across its consumers (main merge, aux
      // merges, overlays, the ACD probe) instead of re-running
      // its joins per plan — unless it already is the union of
      // the pinned per-term frames above, which those consumers
      // re-read as cheaply as a second pin would. A one-table
      // delta joins nothing: it is a projection of the pinned Δ
      // sides, so the probe reads it as is (its −1 filter
      // prunes the new side) and the pin is paid only when the
      // aux merges or a sketch recompute follow.
      val (sd, acdRetracts) =
        if (sides.size == 1) {
          val r = retracts(delta)
          (if (cds.isEmpty && !r) delta else pin(delta), r)
        } else {
          val sd =
            if (cds.isEmpty && acds.isEmpty || touchedIdx.size > 1) delta
            else pin(delta)
          (sd, retracts(sd))
        }
      val main = IncrementalView.mergeSigned(stored, sd, sh.groupCols,
        sh.aggs)
      val (merged0, auxWrites) =
        if (cds.isEmpty) (main, Seq.empty[Long => Unit])
        else mergeWithAux(name, prev, main, sd, sh.groupCols, cds)
      val merged =
        if (!acdRetracts) merged0
        else IncrementalView.overlaySketches(merged0,
          IncrementalView.recomputeSketches(
            pruneToTouchedGroups(
              recomputeJoinInput(sh, sides, adj,
                fullNew.indices.map(i =>
                  if (i == sole) newState(i) else fullNew(i)),
                sd, pin),
              sd, sh.groupKeys),
            sh.groupKeys, acds),
          sd, sh.groupCols, acds)
      tracer.span("mview-write") {
        encrypted(merged.write).mode("overwrite")
          .parquet(catalog.mviewDataPath(name, prev + 1))
        // bucketed aux store + manifests, after the main
        // overwrite truncated the version dir
        auxWrites.foreach(_(prev + 1))
      }
      // ONE atomic catalog save: a version bump without the
      // horizon re-anchor would double-apply this delta on the
      // next refresh
      catalog.setMviewRefreshed(name, prev + 1, horizons)
    } finally pin.free()
  }

  /** REFRESH ALL MATERIALIZED VIEWS [INCREMENTALLY]. */
  def refreshAll(incremental: Boolean): DataFrame = {
    if (engine.inTransaction)
      throw new IllegalStateException(
        "REFRESH ALL MATERIALIZED VIEWS cannot run inside a transaction")
    import spark.implicits._
    // one reentrant refresh per view, alphabetical; with
    // INCREMENTALLY, maintainable views merge their deltas and a
    // refused merge (vacuumed or recreated horizon)
    // falls back to a FULL refresh — the operator asked for
    // everything fresh, not for errors
    val rows = catalog.matviewList.map(_._1).sorted.map { n =>
      val viewSql = catalog.getView(n).get
      val op =
        if (incremental &&
            shapeOf(viewSql).isDefined &&
            catalog.mviewBaseAll(n).nonEmpty)
          try {
            engine.sqlCurrent(s"REFRESH MATERIALIZED VIEW $n INCREMENTALLY")
            "refreshed_incremental"
          } catch {
            case scala.util.control.NonFatal(_) =>
              engine.sqlCurrent(s"REFRESH MATERIALIZED VIEW $n")
              "refreshed_full_fallback"
          }
        else {
          engine.sqlCurrent(s"REFRESH MATERIALIZED VIEW $n")
          "refreshed"
        }
      (n, op)
    }
    rows.toDF("name", "op")
  }

  /** ALTER MATERIALIZED VIEW ... SET AUTOREFRESH ON [EVERY n EVENTS] | OFF. */
  def alterAutoRefresh(name: String, on: Boolean, every: Option[Long]): DataFrame = {
    // authorization happens at FLAG time: the auto refresh itself
    // executes under a system session (a restricted writer's INSERT
    // must neither starve the view nor persist an RLS-filtered one)
    engine.requireSuperuser("ALTER MATERIALIZED VIEW ... SET AUTOREFRESH")
    if (!catalog.isMaterialized(name))
      throw new IllegalArgumentException(s"materialized view not found: $name")
    if (!on && every.isDefined)
      throw new IllegalArgumentException(
        "EVERY n EVENTS applies to AUTOREFRESH ON, not OFF")
    if (every.exists(_ < 1))
      throw new IllegalArgumentException(
        "AUTOREFRESH EVERY must be at least 1 event")
    if (on) {
      // only incrementally MAINTAINABLE shapes qualify — that includes
      // APPROX_COUNT_DISTINCT views (a retraction dispatches to the
      // touched-group sketch recompute instead of refusing), so an
      // auto refresh can never fail a statement that already committed
      val viewSql = catalog.getView(name).get
      if (shapeOf(viewSql).isEmpty)
        throw new IllegalArgumentException(
          s"$name cannot AUTOREFRESH: only incrementally maintainable " +
            "views (COUNT/SUM/AVG/COUNT(DISTINCT)/SUM(DISTINCT)/" +
            "AVG(DISTINCT)/MIN/MAX/APPROX_COUNT_DISTINCT/" +
            "APPROX_PERCENTILE, single-table or join shape) " +
            "qualify — this view refreshes by full rerun")
      // without recorded horizons the due check can never fire and
      // the flag would be silently inert (e.g. a view stored by an
      // older engine as full-rerun)
      if (catalog.mviewBaseAll(name).isEmpty)
        throw new IllegalStateException(
          s"$name has no recorded refresh horizon — run a full " +
            "REFRESH first, then enable AUTOREFRESH")
      // an aux-backed view whose stored version predates its aux
      // frames (e.g. a MIN/MAX view from before exact retraction)
      // would pass the shape check, then the FIRST auto refresh
      // would fail and mute — fail the ALTER now with the fix
      // instead of turning "always fresh" into "silently stale"
      val aliases = auxAliases(viewSql)
      if (aliases.nonEmpty) {
        val dir = catalog.mviewDataPath(name, catalog.mviewVersion(name))
        val fs = hadoopFs(dir)
        // a bucketed manifest or a legacy monolithic dir both count
        // as "aux present"
        val missing = aliases.filterNot(a =>
          fs.exists(new Path(dir + "/" + IncrementalView.auxManifestFile(a))) ||
            fs.exists(new Path(dir + "/" + IncrementalView.auxDir(a))))
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"$name's stored version predates its aux frames " +
              s"(${missing.mkString(", ")}) — run a full REFRESH " +
              "once to build them, then enable AUTOREFRESH")
      }
    }
    autoRefreshMuted -= name
    catalog.setMviewAutoRefresh(name, on, every.getOrElse(1L))
    summary(if (on) "autorefresh_enabled" else "autorefresh_disabled", 0L, 0L)
  }

  /** SHOW MATERIALIZED VIEWS. */
  def show(): DataFrame = {
    // driver-side catalog walk: kind re-derives from the stored SQL
    // (the same shape tests the refresh dispatch uses), staleness =
    // events appended to any base table since its recorded horizon —
    // the number the operator needs to decide whether REFRESH
    // INCREMENTALLY is due. Zero Spark jobs EXCEPT for views carrying
    // APPROX_PERCENTILE, which pay one bounded aggregation over the
    // stored view (group-cardinality rows, not base-table rows) to
    // report the per-group exactness regime
    import spark.implicits._
    catalog.matviewList.map { case (n, viewSql, ver) =>
      val shape = shapeOf(viewSql)
      val kind = shape.fold("full_rerun")(sh =>
        if (sh.tables.size == 1) "incremental" else "incremental_join")
      // APPROX_PERCENTILE's maintainable form has a conditional
      // exactness contract (see PctlExpr) — surface it where the
      // operator looks, not only in scaladoc
      val pctlSupports: Seq[String] =
        shape.map(_.aggs).getOrElse(Nil)
          .collect { case p: IncrementalView.PctlExpr =>
            IncrementalView.supportCol(p.alias) }
      val notes: Option[String] =
        if (pctlSupports.isEmpty) None
        else Some("approx_percentile surfaces DOUBLE; exact " +
          s"quantile while a group holds <= ${IncrementalView.KllK} " +
          "values, ~0.58% KLL rank error past it (incremental and " +
          "full refresh may differ within that bound)")
      // quantile_exact: 'all' while EVERY group's sketch is still in
      // its exact (uncompacted) regime, 'partial' once any group has
      // folded more than KllK values. Sound because every refresh
      // leaves each sketch fed with exactly the group's live values
      // (append merges add them; any retraction dispatches the
      // touched-group recompute, which rebuilds from live state), so
      // the hidden per-group support count IS the sketch's n.
      val quantileExact: Option[String] =
        if (pctlSupports.isEmpty) None
        else Some {
          val maxN = spark.read.parquet(catalog.mviewDataPath(n, ver))
            .agg(max(greatest(
              pctlSupports.map(c => coalesce(col(c), lit(0L)))
                :+ lit(0L): _*)))
            .head().get(0)
          // an empty view aggregates to NULL — vacuously all-exact
          if (maxN == null ||
              maxN.asInstanceOf[Long] <= IncrementalView.KllK) "all"
          else "partial"
        }
      val bases = catalog.mviewBaseAll(n).toSeq.sortBy(_._1)
      (n, ver, kind, catalog.isMviewAutoRefresh(n),
        if (bases.isEmpty) None else Some(bases.map(_._1).mkString(",")),
        if (bases.isEmpty) None
        else Some(bases.map { case (t, r) => s"$t@$r" }.mkString(",")),
        staleEvents(n),
        // muted = an AUTOREFRESH attempt failed and the view is
        // waiting for an explicit REFRESH — the answer to "why is
        // my always-fresh view stale?"
        autoRefreshMuted.contains(n),
        // the debounce threshold (EVERY n EVENTS), NULL when not
        // flagged, then the exactness-contract note and the live
        // regime — appended last so no index-addressed consumer
        // shifts
        catalog.mviewAutoEvery(n), notes, quantileExact)
    }.toDF("name", "version", "kind", "autorefresh", "base_tables",
      "horizons", "stale_events", "muted", "autorefresh_every", "notes",
      "quantile_exact")
  }

  /** A materialized view's stored rows as a statement reads them:
    * frozen at its last REFRESH — no SQL expansion, and no temporal
    * spec rebinds it (it has no live base tables to rebind).
    *
    * A maintainable view's HAVING applies at READ time: storage keeps
    * every group so deltas can move groups across the predicate
    * boundary (IncrementalView scaladoc). The filter comes from the
    * PARSE alone, not the catalog-gated shape tests — a dropped or
    * re-attached base must not silently drop the predicate (the stored
    * layout is what matters; re-applying it to a full-rerun store whose
    * rows already satisfy it is a no-op). It applies BEFORE the
    * hidden-column strip: an aggregate-call predicate rewrote to hidden
    * `__graft_h_*` accumulators (rewriteHaving). A store written BEFORE
    * a view's SQL parsed into the maintainable shape lacks those
    * columns — its rows were filtered at population, so the predicate
    * is skipped rather than failed. The hidden IVM support columns
    * (`__graft_*`) are bookkeeping, not part of the view. */
  def stored(v: String): DataFrame = {
    val mv = spark.read.parquet(catalog.mviewDataPath(v, catalog.mviewVersion(v)))
    val having = shapeOf(catalog.getView(v).get, parsedOnly = true)
      .flatMap(_.having)
      .filter(h => IncrementalView.HavingAggRefRe.findAllIn(h)
        .forall(mv.columns.contains))
    having.fold(mv)(h => mv.where(expr(h)))
      .drop(mv.columns.filter(IncrementalView.hidden).toIndexedSeq: _*)
  }

  // ======================================================= auto refresh

  /** Always-fresh views: after a successful TOP-LEVEL statement
    * outside a transaction, incrementally refresh every AUTOREFRESH
    * view whose staleness reached its debounce threshold (EVERY n
    * EVENTS; 1 = refresh after every statement), so a hot single-row
    * ingest loop pays the warm refresh once per n events, not per
    * statement. The due check is a driver-side catalog walk — zero
    * Spark jobs when nothing changed, so read-only statements pay one
    * map lookup. The refresh dispatches reentrantly like a trigger body
    * (traced and serialized as part of the statement). A refresh
    * failure must not fail the statement whose write already
    * committed: it is counted (SHOW METRICS autorefresh_failed) and the
    * view stays stale for the next statement or an explicit REFRESH.
    * Only incrementally maintainable shapes can be flagged AUTOREFRESH,
    * and every aggregate in them maintains under retraction (the
    * sketch's touched-group recompute included), so no shape
    * precondition can fire here; the residual failure class is
    * vacuumed horizons. Inside BEGIN..COMMIT, DML is buffered (horizons
    * unchanged) and the refresh lands after the COMMIT statement
    * publishes. */
  def maybeAutoRefresh(): Unit =
    if (!inAutoRefresh && !engine.inTransaction) {
      val due = catalog.autoRefreshViews.collect {
        case (n, every) if !autoRefreshMuted.contains(n) &&
            catalog.isMaterialized(n) && staleEvents(n).exists(_ >= every) => n
      }
      if (due.nonEmpty) {
        inAutoRefresh = true
        try engine.asSession(autoRefreshSession)(due.foreach { n =>
          try {
            engine.sqlCurrent(s"REFRESH MATERIALIZED VIEW $n INCREMENTALLY")
            runs += 1
          } catch {
            // fatal errors (OOM, interrupt) must propagate; a refresh
            // whose SQL-level failure is swallowed here is muted so it
            // is not doomed to re-fail after every later statement
            case scala.util.control.NonFatal(e) =>
              failed += 1
              autoRefreshMuted += n
              System.err.println(
                s"[graft] AUTOREFRESH of $n failed (muted until an " +
                  s"explicit REFRESH): ${e.getMessage}")
          }
        }) finally inAutoRefresh = false
      }
    }

  private var inAutoRefresh = false
  private var runs = 0L
  private var failed = 0L
  def autoRefreshRuns: Long = runs
  def autoRefreshFailed: Long = failed
  // views whose auto refresh FAILED (vacuumed horizon, dropped base):
  // muted so a permanently broken view is not re-attempted after every
  // statement forever. In-memory — a reopen retries once; an explicit
  // REFRESH or re-ALTER of the view clears the mute.
  private val autoRefreshMuted = scala.collection.mutable.HashSet.empty[String]
  // the refresh runs under a SYSTEM session, not the writer's: the
  // flag was superuser-authorized at ALTER time, and a restricted
  // writer's INSERT must neither starve the view (REFRESH is gated
  // under SET PRIVILEGES) nor let an RLS-filtered context near the
  // shared materialization
  private lazy val autoRefreshSession = engine.newSession()

  /** Events appended to any base table since the view's recorded
    * horizon — the number that decides whether an auto refresh is due
    * and that SHOW reports as `stale_events`. None when the view has no
    * recorded horizon, or when a base was DROPPED (no sequence
    * counter) or RECREATED (its counter restarts below the horizon):
    * staleness is then unknowable, and the view is unmaintainable until
    * a full REFRESH. */
  private def staleEvents(n: String): Option[Long] = {
    val bases = catalog.mviewBaseAll(n)
    if (bases.isEmpty || bases.exists { case (t, r) =>
        catalog.get(t).isEmpty || catalog.lastSeq(t) < r }) None
    else Some(bases.map { case (t, r) => catalog.lastSeq(t) - r }.max)
  }

  // ============================================================ refresh

  /** The pins one incremental refresh takes, all freed in its `finally`:
    * a refresh that throws mid-way (job failure, missing aux frame)
    * must not leak cache entries into the engine's lifetime. A pin is
    * a lazy MEMORY_AND_DISK persist — the first job that reads the
    * frame fills the cache as part of its own work, so pinning runs no
    * job of its own (an eager GraftBridge.pin runs one per pin: a
    * retracting APPROX_COUNT_DISTINCT refresh went 15 → 18 jobs on
    * it). Cascade hops pin from Par fork threads, hence the lock. */
  private final class RefreshPins extends (DataFrame => DataFrame) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = {
      held.synchronized {
        held += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      df
    }
    def free(): Unit = held.foreach(_.unpersist(false))
  }

  /** One cascade hop: from the restricted frame of the PREVIOUS table
    * (link column `ct`), build the restriction on the neighbor's `cu`
    * column plus the neighbor's restricted continuation frame over
    * `base`. Below the cap the keys inline (scan pushdown); past it
    * the distinct key frame — O(touched reach), never collected —
    * restricts via left-semi, and the cascade CONTINUES bounded from
    * the semi-joined frame instead of giving up the path. NULL link
    * values drop from the key frame: they can satisfy no equi-join ON,
    * so no term can use the rows they would match. */
  private def cascadeHop(frame: DataFrame, ct: String, base: DataFrame,
      cu: String, pin: DataFrame => DataFrame, tag: Int)
      : (CascRestrict, DataFrame) = {
    val ks = tracer.span("join-keys") {
      collectInlineKeys(frame.select(col(ct)), ct)
    }
    if (ks.length <= InlineKeyCap) {
      val pred = if (ks.isEmpty) lit(false) else col(cu).isin(ks: _*)
      (CascInline(pred), base.where(pred))
    } else {
      val ka = s"__graft_ck$tag"
      val keys = pin(frame.select(col(ct).as(ka))
        .where(col(ka).isNotNull).distinct())
      (CascKeys(keys, ka, cu),
        base.join(keys, col(cu) === col(ka), "left_semi"))
    }
  }

  /** Restrict full side `df` to rows satisfying ANY of the per-source
    * cascade restrictions (a row reaching NO touched delta contributes
    * to no delta term). All-inline keeps the single pushdown
    * disjunction; a lone key frame takes a plain left-semi; the mixed
    * case marks each key-frame match through a left join against the
    * DISTINCT keys (cardinality-preserving) and filters on the OR of
    * markers and inline predicates — one pass over the big side in
    * every shape. */
  private def applyCascade(df: DataFrame, rs: Seq[CascRestrict])
      : DataFrame = {
    val inline = rs.collect { case CascInline(p) => p }
    val keyed = rs.collect { case k: CascKeys => k }
    val inlinePred = inline.reduceOption(_ || _)
    if (keyed.isEmpty) df.where(inlinePred.getOrElse(lit(false)))
    else if (keyed.lengthIs == 1 && inline.isEmpty) {
      val k = keyed.head
      df.join(k.keys, col(k.stateCol) === col(k.keyAlias), "left_semi")
    } else {
      val marked = keyed.foldLeft(df) { (acc, k) =>
        acc.join(k.keys, col(k.stateCol) === col(k.keyAlias), "left")
      }
      val flags = keyed.map(k => col(k.keyAlias).isNotNull)
      marked.where((inlinePred.toSeq ++ flags).reduce(_ || _))
        .drop(keyed.map(_.keyAlias): _*)
    }
  }

  /** Some(shape) iff the SQL is an incrementally maintainable view
    * (IncrementalView.parse: one table or an equi-join chain) whose
    * tables are all non-attached engine tables of this catalog —
    * attached event logs have no sequence bookkeeping to anchor a
    * refresh horizon to — and no SUM/AVG reads a FLOAT/DOUBLE
    * expression (see floatSumAvg; types resolve against the aliased
    * empty join chain). `parsedOnly` skips those catalog gates: the
    * read path applies a stored view's HAVING whatever its tables'
    * state is now. */
  private def shapeOf(sql: String, parsedOnly: Boolean = false)
      : Option[IncrementalView.Shape] =
    IncrementalView.parse(sql).filter(sh => parsedOnly || (
      sh.tables.forall(tn => catalog.get(tn).exists(_.attached.isEmpty)) &&
        !floatSumAvg(sh.aggs, sh.joined(
          sh.tables.map(tn => engine.emptyFrame(catalog.require(tn).logicalSchema))))))

  /** True when any SUM/AVG aggregate reads a FLOAT/DOUBLE-typed
    * expression — such views must NOT enter the maintainable shape:
    * the stored accumulator would be a double, and signed-delta
    * subtract-then-add over doubles is order-dependent and drifts
    * cumulatively across refreshes, so incremental and full refresh
    * would silently diverge (the shape's contract is bit-parity).
    * Integer and DECIMAL sums are exact; MIN/MAX/COUNT over doubles
    * stay maintainable (value identity, no accumulation). A cast
    * inside the aggregate (`SUM(CAST(x AS DECIMAL(38,6)))`) resolves
    * to its exact target type and passes. Unresolvable expressions
    * gate out too — full rerun serves (and error-reports) them. */
  private def floatSumAvg(aggs: Seq[IncrementalView.Agg],
      base: => DataFrame): Boolean = {
    val sumAvgExprs = aggs.collect {
      case IncrementalView.SumExpr(e, _) => e
      case IncrementalView.AvgExpr(e, _) => e
      // a set-sum over doubles is just as order-dependent as a bag-sum
      case IncrementalView.SumDistinctExpr(e, _) => e
      case IncrementalView.AvgDistinctExpr(e, _) => e
    }
    sumAvgExprs.nonEmpty && {
      val frame = scala.util.Try(base)
      sumAvgExprs.exists { e =>
        frame.flatMap(f => scala.util.Try(
          f.select(expr(e)).schema.head.dataType)).toOption match {
          case Some(FloatType | DoubleType) => true
          case Some(_) => false
          case None => true
        }
      }
    }
  }

  // ------------------------------------------- bucketed aux store IO

  private def hadoopFs(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write one alias's bucket → store-version manifest into a view
    * VERSION dir. Plain JSON array of AuxBuckets longs — pointer
    * metadata, not data, so it bypasses parquet encryption like the
    * catalog meta does. */
  private def writeAuxManifest(versionPath: String, alias: String,
      pointers: Array[Long]): Unit = {
    val p = new Path(versionPath + "/" +
      IncrementalView.auxManifestFile(alias))
    val out = hadoopFs(versionPath).create(p, true)
    try out.write(pointers.mkString("[", ",", "]").getBytes("UTF-8"))
    finally out.close()
  }

  private def readAuxManifest(versionPath: String, alias: String)
      : Option[Array[Long]] = {
    val p = new Path(versionPath + "/" +
      IncrementalView.auxManifestFile(alias))
    val fs = hadoopFs(versionPath)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      Some(s.trim.stripPrefix("[").stripSuffix("]")
        .split(",").map(_.trim.toLong))
    }
  }

  /** The existing bucket-partition paths for the pointed-at buckets —
    * an empty bucket writes no partition dir, so resolution filters
    * to paths that exist. */
  private def auxBucketPaths(name: String, alias: String,
      pointers: Array[Long], buckets: Seq[Int]): Seq[String] = {
    val fs = hadoopFs(catalog.mviewAuxStoreRoot(name, alias))
    buckets.map(b =>
      catalog.mviewAuxStorePath(name, alias, pointers(b)) +
        s"/${IncrementalView.AuxBucketCol}=$b")
      .filter(p => fs.exists(new Path(p)))
  }

  /** Write aux rows (bucket-partitioned) under one store version. */
  private def writeAuxBuckets(df: DataFrame, name: String, alias: String,
      groupAliases: Seq[String], storeVersion: Long): Unit =
    encrypted(df.withColumn(IncrementalView.AuxBucketCol,
        IncrementalView.auxBucket(groupAliases)).write)
      .mode("overwrite").partitionBy(IncrementalView.AuxBucketCol)
      .parquet(catalog.mviewAuxStorePath(name, alias, storeVersion))

  /** Aux-backed-aggregate maintenance (COUNT(DISTINCT), MIN, MAX)
    * around a merged main frame: merge each alias's aux (per-(group,
    * value) live counts) from the SAME signed frame the main merge
    * consumed, overlay the touched groups' exact values onto the
    * main, and return the final main plus write closures to run once
    * the new version number is fixed (after the main lands). The aux
    * store is BUCKETED — the merge reads only the buckets the delta's
    * group keys hash into, rewrites exactly those under the new store
    * version, and carries every other manifest pointer forward, so
    * refresh write cost is O(touched buckets), never O(frame). A
    * legacy monolithic aux dir upgrades in place: its whole frame merges once and lands bucketed. A
    * version with NEITHER manifest nor legacy dir was stored by an
    * engine that gated MIN/MAX instead of aux-backing it — one full
    * REFRESH (re)writes every aux. */
  private def mergeWithAux(name: String, prev: Long,
      merged0: DataFrame, sd: DataFrame, groupCols: Seq[String],
      auxes: Seq[IncrementalView.Agg])
      : (DataFrame, Seq[Long => Unit]) = {
    var main = merged0
    val prevPath = catalog.mviewDataPath(name, prev)
    // aggregates over the SAME value expression share one physical
    // frame (MIN(v) + MAX(v) + COUNT(DISTINCT v) = one merge, one
    // store, one overlay pass) — auxGroups derives the grouping
    // identically at CREATE/REFRESH/read so the layout is stable
    val writes = IncrementalView.auxGroups(auxes).map { case (rep, members) =>
      readAuxManifest(prevPath, rep.alias) match {
        case Some(pointers) =>
          // touched buckets from the pinned delta's group keys — a
          // ≤ AuxBuckets-row collect
          val touched = sd
            .select(IncrementalView.auxBucket(groupCols).as("__b"))
            .distinct().collect().map(_.getInt(0)).toSeq.sorted
          val paths = auxBucketPaths(name, rep.alias, pointers, touched)
          val auxStored =
            if (paths.nonEmpty) spark.read.parquet(paths: _*)
            else IncrementalView
              .auxSigned(sd, groupCols, rep.alias).where(lit(false))
              .drop("__sign")
              .withColumn(IncrementalView.RowsCol, lit(0L))
          val auxMerged = IncrementalView
            .auxMerge(auxStored, sd, groupCols, rep.alias)
          main = IncrementalView.overlayAux(
            main, auxMerged, sd, groupCols, members)
          (newVer: Long) => {
            writeAuxBuckets(auxMerged, name, rep.alias, groupCols, newVer)
            writeAuxManifest(catalog.mviewDataPath(name, newVer),
              rep.alias, touched.foldLeft(pointers.clone()) {
                (ps, b) => ps(b) = newVer; ps })
          }
        case None =>
          // legacy monolithic dir: read whole, merge, land bucketed
          val auxPath = prevPath + "/" + IncrementalView.auxDir(rep.alias)
          val auxStored =
            try spark.read.parquet(auxPath)
            catch {
              // ONLY the missing-path analysis error maps to the
              // "older engine version" prescription — a transient
              // filesystem fault must surface as itself, not as
              // advice to re-run a (100 TB-scale) full refresh
              case e: org.apache.spark.sql.AnalysisException =>
                throw new IllegalStateException(
                  s"$name's aux frame for ${rep.alias} is missing (view " +
                    "stored by an older engine version) — run a full " +
                    "(non-incremental) REFRESH once to rebuild it", e)
            }
          val auxMerged = IncrementalView
            .auxMerge(auxStored, sd, groupCols, rep.alias)
          main = IncrementalView.overlayAux(
            main, auxMerged, sd, groupCols, members)
          (newVer: Long) => {
            writeAuxBuckets(auxMerged, name, rep.alias, groupCols, newVer)
            writeAuxManifest(catalog.mviewDataPath(name, newVer),
              rep.alias,
              Array.fill(IncrementalView.AuxBuckets)(newVer))
          }
      }
    }
    (main, writes)
  }

  /** Materialize a maintainable view's `version` from every table's
    * current state — hidden support columns and aux frames included,
    * so the stored schema is always merge-ready — and return the
    * per-table horizons it was read at. CREATE and full REFRESH both
    * land here. */
  private def populateShape(name: String, sh: IncrementalView.Shape,
      version: Long): Map[String, Long] = {
    val hs = sh.tables.map(tn => tn -> catalog.lastSeq(tn)).toMap
    val frames = sh.tables.map(tn => stateAt(tn, Some(hs(tn)).filter(_ > 0)))
    val agged = IncrementalView.aggregate(frames, sh)
    // HAVING resolves against the view's VISIBLE output columns plus
    // the rewrite-minted __graft_h_* having accumulators —
    // analysis-check it against that frame NOW so a typo (or a
    // reference to a __graft_* support column the read path strips)
    // fails the CREATE, not the first read (the filter itself applies
    // at read time)
    sh.having.foreach(h => agged
      .drop(agged.columns.filter(c => IncrementalView.hidden(c) &&
        !c.startsWith(IncrementalView.HavingAggPrefix)).toIndexedSeq: _*)
      .where(expr(h)).queryExecution.analyzed)
    encrypted(agged.write)
      .mode("overwrite").parquet(catalog.mviewDataPath(name, version))
    writeAuxes(sh.joined(frames), sh.groupKeys,
      IncrementalView.auxAggs(sh.aggs), name, version)
    hs
  }

  /** Populate the aux frames (COUNT(DISTINCT), MIN, MAX) for a freshly
    * aggregated view version — `base` is the where-filtered state (or
    * joined relation) the main aggregation consumed; one bucketed
    * store version + manifest per distinct value expression
    * (auxGroups), every pointer at `version`. */
  private def writeAuxes(base: DataFrame,
      keys: Seq[IncrementalView.GroupKey],
      auxes: Seq[IncrementalView.Agg], name: String, version: Long): Unit =
    IncrementalView.auxGroups(auxes).foreach { case (rep, _) =>
      writeAuxBuckets(IncrementalView.auxAggregate(base, keys, rep),
        name, rep.alias, keys.map(_.alias), version)
      writeAuxManifest(catalog.mviewDataPath(name, version), rep.alias,
        Array.fill(IncrementalView.AuxBuckets)(version))
    }

  /** Semi AND anti restrictors over ONE touched-key collection: the
    * semi side keeps state rows whose pk saw an event in (r, horizon]
    * (the delta frames), the anti side drops exactly those rows — the
    * join-view refresh derives each OLD-horizon prefix as
    * (new state − touched pks) ∪ old touched rows instead of a second
    * horizon scan, so both filters must come from the same key set
    * (and the inline-key job must run once, not per filter). A small
    * touched set inlines TYPED pk values (from the event payload, not
    * the canonical string pk) so the state reads prune their scans by
    * pushdown — the filter passes through the collapse window because
    * pk is its partitioning column. Past the cap, the semi/anti joins
    * stand: O(touched) keys at 100 TB can be millions of rows, which
    * must never collect. */
  private def touchedFilters(t: TableDef, r: Long, horizon: Long)
      : (DataFrame => DataFrame, DataFrame => DataFrame) = {
    val touched = events(t)
      .where(col("sequence") > r && col("sequence") <= horizon)
      .select(col("pk")).distinct()
    val touchedTyped: Option[IndexedSeq[Any]] =
      tracer.span("touched-keys") {
        val ks = collectInlineKeys(
          events(t)
            .where(col("sequence") > r && col("sequence") <= horizon)
            .select(col(s"payload.${t.pkPhysical}").as("__k")),
          "__k")
        if (ks.nonEmpty && ks.length <= InlineKeyCap) Some(ks) else None
      }
    (state => touchedTyped match {
      case Some(ks) => state.where(col(t.pk).isin(ks: _*))
      case None => state.join(touched,
        col(t.pk).cast("string") === touched("pk"), "left_semi")
    },
    state => touchedTyped match {
      case Some(ks) => state.where(!col(t.pk).isin(ks: _*))
      case None => state.join(touched,
        col(t.pk).cast("string") === touched("pk"), "left_anti")
    })
  }

  /** A table whose USER columns sit inside the engine's hidden
    * `__graft_` namespace. CREATE/ALTER reject the prefix, so only a
    * table attached or restored from an older layout can carry one — but every refresh path that mints `__graft_*`
    * working columns (fused two-bound flags, cascade key frames,
    * recompute value frames, touched-group semi keys) would then hit
    * an ambiguous-reference AnalysisException mid-refresh. Such legacy
    * tables take the mint-free fallbacks instead: two independent
    * stateAt reads, unpruned full sides, the plain semi-join prune. */
  private def carriesHiddenCols(t: TableDef): Boolean =
    t.columns.exists(c => IncrementalView.hidden(c.logical) ||
      IncrementalView.hidden(c.physical))

  /** Test hook: force every fused-read eligibility check to decline,
    * as the txn / attached / differing-checkpoint / hidden-column
    * special cases do. The decline path is correct-but-slower by
    * contract; the property suite churns the same workload with and
    * without fusion and asserts byte-identical stored views, so a
    * future decline-condition bug surfaces as a test diff rather than
    * a silent slow path (or worse, a fused-only divergence). */
  private[exec] var disableFusedReads = false

  /** The decline is correct-but-slower (two independent stateAt reads
    * instead of one fused scan) — a zero-cost trace span names the
    * reason so an operator reading SHOW TRACE can tell a fused refresh
    * from a declined one without source-diving. */
  private def fusedDecline(t: TableDef, reason: String): Option[DataFrame] = {
    tracer.span("fused-read-declined", s"${t.name}: $reason")(())
    None
  }

  /** Both horizon states of an incremental refresh from ONE pruned
    * scan: when the old and new bounds collapse over the
    * SAME checkpoint-plus-tail source — out of transaction,
    * non-attached, same nearest snapshot for both bounds — the
    * two-bound collapse emits each pk's old- and new-horizon winner
    * rows in a single window pass (one scan, one pk Exchange) flagged
    * `StateView.OldWinCol` / `NewWinCol`, instead of two scans and
    * two shuffles of the same touched rows. Flat logs skip the window
    * entirely: the old side is the sequence <= r prefix of the flat
    * scan. Columns map physical -> logical exactly like stateAt.
    * Returns None whenever any stateAt special case could apply —
    * callers fall back to two independent stateAt reads. */
  private def fusedHorizonStates(t: TableDef, r: Long, h: Long)
      : Option[DataFrame] = {
    if (disableFusedReads) return fusedDecline(t, "forced by test hook")
    if (engine.inTransaction || engine.dmlReadScope)
      return fusedDecline(t, "transaction-scoped read")
    if (t.attached.isDefined) return fusedDecline(t, "attached event log")
    // a user column inside the engine's hidden namespace would
    // collide with the appended flag columns (duplicate names →
    // ambiguous-reference at the fusedSides filters) — such tables
    // keep the two independent stateAt reads, which never mint names
    if (carriesHiddenCols(t))
      return fusedDecline(t, "legacy __graft_ user column")
    val snapDir = catalog.snapshotPath(t.name)
    val baseR = tracer.span("fused-plan", t.name) {
      Snapshots.nearest(spark, snapDir, Some(r))
    }
    if (baseR != Snapshots.nearest(spark, snapDir, Some(h)))
      return fusedDecline(t, "bounds straddle a checkpoint")
    val ev = events(t)
    val source = baseR match {
      case Some(b) =>
        Snapshots.read(spark, snapDir, b, Some(EventLog.schema(t.payloadSchema)))
          .unionByName(
            ev.where(col("sequence") > b && col("sequence") <= h),
            allowMissingColumns = true)
      case None => ev.where(col("sequence") <= h)
    }
    val flagged =
      if (catalog.isFlatLog(t.name)) {
        // INSERT-only distinct pks (plus a disjoint checkpoint): every
        // row is its own winner; membership in the old state is just
        // the sequence bound
        val fields = t.payloadSchema.fieldNames.toIndexedSeq
        source
          .withColumn(StateView.OldWinCol, col("sequence") <= r)
          .withColumn(StateView.NewWinCol, lit(true))
          .select(fields.map(f => col(s"payload.`$f`").as(f))
            :+ col(StateView.OldWinCol) :+ col(StateView.NewWinCol): _*)
      } else StateView.twoBoundKeyed(source, r, t.pkPhysical)
    val have = flagged.columns.toSet
    Some(flagged.select(t.columns.map(c =>
      (if (have(c.physical)) col(c.physical)
       else lit(null).cast(c.dataType)).as(c.logical))
      :+ col(StateView.OldWinCol) :+ col(StateView.NewWinCol): _*))
  }

  /** Split a pinned fused two-bound frame into its old/new sides. */
  private def fusedSides(pinned: DataFrame): (DataFrame, DataFrame) =
    (pinned.where(col(StateView.OldWinCol))
       .drop(StateView.OldWinCol, StateView.NewWinCol),
     pinned.where(col(StateView.NewWinCol))
       .drop(StateView.OldWinCol, StateView.NewWinCol))

  /** Restrict a view's WHERE-filtered base state to (a superset of)
    * the rows of the GROUPS the signed delta touches — the ACD
    * retraction recompute's input. The filter necessarily applies
    * POST-collapse: a non-pk predicate cannot soundly cross the keyed
    * collapse window (dropping a non-matching NEWER event would
    * promote a stale event to "latest"), so a retracting refresh pays
    * one state read — snapshot-accelerated like any state read — and
    * the filter bounds the RE-AGGREGATION to the touched groups'
    * rows, not the scan. (Still strictly cheaper than the full
    * refresh it replaces, which pays the same read plus a full
    * re-aggregation and a full view + aux rewrite; and the common
    * append-shaped refresh never comes here at all.) ANY single-key
    * view — bare column and computed expression alike — inlines the
    * touched key VALUES (≤ InlineKeyCap) as an
    * in-list over the evaluated key expression; `isin` never matches
    * NULL, so a NULL touched key adds
    * the isNull arm. Multi-key
    * and past-the-cap views take a null-safe left-semi join on the
    * evaluated key expressions — exact and never collecting. Either
    * way the overlay's touched flag decides which groups actually
    * rewrite, so a superset here costs compute, never correctness.
    * Multi-key views do not semi-join the RAW state:
    * under the cap each key column's touched values push into the
    * scan as a conjunction of per-column in-lists — a sound SUPERSET
    * of the touched tuple set (its per-column projection product) —
    * and the null-safe left-semi stays on top as the exact tuple
    * filter, so a small composite-key retraction reads matching row
    * groups instead of the table. */
  private def pruneToTouchedGroups(state: DataFrame, sd: DataFrame,
      groupKeys: Seq[IncrementalView.GroupKey]): DataFrame = {
    val groupCols = groupKeys.map(_.alias)
    val touched = sd.select(groupCols.map(col): _*).distinct()
    def colPred(k: IncrementalView.GroupKey,
        vals: IndexedSeq[Any]): Option[Column] =
      if (vals.length > InlineKeyCap) None
      else Some(touchedInList(expr(k.e), vals))
    groupKeys match {
      case Seq(k) =>
        val vals = tracer.span("acd-touched-groups") {
          cappedValues(touched)
        }
        colPred(k, vals).map(state.where)
          .getOrElse(semiOnTouched(state, touched, groupKeys))
      case _ =>
        val preds = groupKeys.map { k =>
          val vals = tracer.span("acd-touched-groups") {
            cappedValues(sd.select(col(k.alias)).distinct())
          }
          colPred(k, vals)
        }
        // each defined per-column in-list is independently a sound
        // superset restriction — apply whichever columns stayed under
        // the cap even when another overflowed
        val pre = preds.flatten.reduceOption(_ && _)
          .map(state.where).getOrElse(state)
        semiOnTouched(pre, touched, groupKeys)
    }
  }

  /** The exact touched-tuple filter: a null-safe left-semi of `state`
    * against the distinct touched group tuples, with the touched keys
    * renamed out of the state's namespace so the key EXPRESSIONS
    * (which may be the same bare identifiers) resolve against the
    * state side only. */
  private def semiOnTouched(state: DataFrame, touched: DataFrame,
      groupKeys: Seq[IncrementalView.GroupKey]): DataFrame = {
    // minted names live in the reserved __graft_ namespace so a user
    // column can never capture them (CREATE TABLE rejects the prefix);
    // a LEGACY table could still carry one — its unfiltered
    // state is a sound superset (the caller's overlay decides which
    // groups rewrite), so skip the semi rather than join ambiguously
    if (state.columns.exists(IncrementalView.hidden)) return state
    val tg = touched.select(groupKeys.map(k =>
      col(k.alias).as(s"__graft_tg_${k.alias}")): _*)
    val cond = groupKeys.map(k =>
      expr(k.e) <=> col(s"__graft_tg_${k.alias}")).reduce(_ && _)
    state.join(tg, cond, "left_semi")
  }

  /** In-list predicate over possibly-NULL touched values: `isin` over
    * the non-null values (lit(false) when there are none) plus an
    * isNull arm when NULL itself is touched — `isin` never matches
    * NULL. Shared by every touched-value scan restriction. */
  private def touchedInList(e: Column, vals: IndexedSeq[Any]): Column = {
    val (nulls, nonNull) = vals.partition(_ == null)
    val base = if (nonNull.nonEmpty) e.isin(nonNull: _*) else lit(false)
    if (nulls.nonEmpty) base || e.isNull else base
  }

  /** Restrict ONE side's state to rows whose `keyExpr` (a bare column
    * or a computed expression over that side's columns)
    * evaluates to one of the signed delta's distinct touched values of
    * group alias `alias` — a per-key SUPERSET of the touched group
    * tuples (callers post-filter with pruneToTouchedGroups for
    * exactness). Inline in-list with an isNull arm under the cap (a
    * bare-column in-list pushes into the scan; a computed one
    * evaluates scan-stage, still before any join); a pinned
    * distributed null-safe left-semi past it. */
  private def touchedValueRestrict(state: DataFrame, keyExpr: Column,
      sd: DataFrame, alias: String, pin: DataFrame => DataFrame,
      tag: Int): DataFrame = {
    val touched = sd.select(col(alias)).distinct()
    val vals = tracer.span("recompute-root-keys") {
      cappedValues(touched)
    }
    if (vals.length <= InlineKeyCap) {
      state.where(touchedInList(keyExpr, vals))
    } else {
      val ka = s"__graft_tv$tag"
      // touched is already distinct — the rename alone suffices
      state.join(pin(touched.select(col(alias).as(ka))),
        keyExpr <=> col(ka), "left_semi")
    }
  }

  /** The join-shape sketch recompute's input: the
    * new-state join restricted — as a SUPERSET — to the touched
    * groups' rows, instead of joining raw full sides. Every group key
    * that is a bare (or table-qualified) column of exactly one side
    * restricts that side to the delta's touched values for it; from
    * one such restricted side, the cascade pushes key restrictions
    * outward along the join tree, so partner sides prune to the rows
    * that can reach a touched group's row at all — at 100 TB the
    * retraction recompute reads matching row groups of each partner,
    * not the partner tables. Soundness: a joined row of a touched
    * group g contains the root side's row carrying g's key value
    * (kept by the value restriction), and each partner row along the
    * tree joins it hop by hop (kept by the cascade) — so every row
    * pruneToTouchedGroups would keep survives. A group key owned by
    * exactly one side — a bare column, a qualified column, or a
    * computed expression whose every column reference resolves
    * to that side (`t1.v % 5`) — restricts its side by the evaluated
    * expression; only a key whose references span sides (or none)
    * restricts nothing. With no owned key at all the join stays
    * unrestricted and the post-filter alone bounds the
    * re-aggregation. */
  private def recomputeJoinInput(js: IncrementalView.Shape,
      sides: Seq[String], adj: Array[List[(Int, String, String)]],
      fullNew: Seq[DataFrame], sd: DataFrame,
      pin: DataFrame => DataFrame): DataFrame = {
    // one table has no partner to prune, and pruneToTouchedGroups
    // already restricts it by the touched key values; legacy
    // __graft_-columned base tables skip the value/cascade
    // restrictions (which mint __graft_tv*/__graft_ck* frames) — the
    // unrestricted join is the fallback, still exact after
    // pruneToTouchedGroups' post-filter
    if (sides.size == 1 ||
        sides.exists(tn => carriesHiddenCols(catalog.require(tn))))
      return js.joined(fullNew)
    // the side owning a key expression: every column reference in it
    // resolves to the same single side. Qualifiers are the join
    // aliases (= table names); a bare reference must be a column of
    // exactly one side (the shape already requires group columns be
    // unambiguous in the joined relation).
    def sideOf(parts: Seq[String]): Option[Int] = parts match {
      case Seq(q, c) =>
        val i = sides.indexWhere(_.equalsIgnoreCase(q))
        if (i >= 0 && fullNew(i).columns.exists(_.equalsIgnoreCase(c)))
          Some(i)
        else None
      case Seq(c) =>
        val owners = sides.indices.filter(i =>
          fullNew(i).columns.exists(_.equalsIgnoreCase(c)))
        if (owners.sizeIs == 1) Some(owners.head) else None
      case _ => None
    }
    def owner(k: IncrementalView.GroupKey): Option[Int] = {
      val refs =
        try spark.sessionState.sqlParser.parseExpression(k.e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts
        }
        catch { case _: Exception => return None }
      val owners = refs.map(sideOf)
      // a constant key restricts nothing; any unresolvable or
      // cross-side reference disqualifies the key
      if (owners.nonEmpty && owners.forall(_ == owners.head)) owners.head
      else None
    }
    val owned: Seq[(Int, IncrementalView.GroupKey)] =
      js.groupKeys.flatMap(k => owner(k).map(i => (i, k)))
    if (owned.isEmpty) return js.joined(fullNew)
    val frames = fullNew.toArray
    var tag = 0
    for ((i, k) <- owned) {
      // alias the side with its join-alias so a QUALIFIED reference in
      // the key expression resolves against this single frame
      frames(i) = touchedValueRestrict(frames(i).alias(sides(i)),
        expr(k.e), sd, k.alias, pin, tag)
      tag += 1
    }
    val root = owned.map(_._1).min
    val visited = scala.collection.mutable.Set(root)
    var frontier: List[(Int, DataFrame)] = List(root -> frames(root))
    while (frontier.nonEmpty) {
      val next = List.newBuilder[(Int, DataFrame)]
      for ((t, frame) <- frontier; (u, ct, cu) <- adj(t) if !visited(u)) {
        visited += u
        val (_, restricted) = cascadeHop(frame, ct, frames(u), cu, pin, tag)
        tag += 1
        frames(u) = restricted
        next += ((u, restricted))
      }
      frontier = next.result()
    }
    js.joined(frames.toIndexedSeq)
  }
}

object MatViews {

  /** One restriction the join-view cascade derived for one full side,
    * from one touched source: an inline IN-list predicate below
    * `InlineKeyCap` (parquet pushdown prunes the scan to matching row
    * groups), or a DISTRIBUTED distinct-key frame to semi-join against
    * past it (a cap overflow does not abandon pruning: only the
    * driver-side literalization is capped, the key frame itself stays
    * on the executors at any cardinality). `keyAlias` is
    * the frame's single column, minted unique per hop so several
    * restrictions can join the same side without name clashes. */
  private sealed trait CascRestrict
  private final case class CascInline(pred: Column) extends CascRestrict
  private final case class CascKeys(keys: DataFrame, keyAlias: String,
      stateCol: String) extends CascRestrict

  /** Reject a user column inside the engine's hidden `__graft_`
    * namespace (the views' support columns, having accumulators,
    * fused-read flags, minted join keys): a user column there would
    * ambiguously capture a minted column in some later plan. */
  def requireUnreserved(column: String): Unit =
    require(!IncrementalView.hidden(column),
      s"column name $column is reserved: __graft_ is the engine's " +
        "hidden-column namespace")
}
