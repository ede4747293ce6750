package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** One column of a graft table.
  *
  * `logical` is the name SQL sees; `physical` is the field name inside
  * the persisted event payload struct. ALTER RENAME COLUMN updates only
  * the logical name — the event log is immutable, so renames are
  * column-mapping metadata, never data rewrites (the reference rewrites
  * in-memory state, engine.rs:1826-1971; at 100 TB a rewrite is not an
  * option, so we use the Delta-style column-mapping trick instead).
  */
final case class ColumnDef(logical: String, physical: String, dataType: DataType)

/** Declared table constraints beyond the primary key — the catalog
  * side of the reference's constraint registry (constraints.rs:9-35).
  * Enforcement is set-based in QueryEngine (one probe job per DML
  * statement); the reference validates row-by-row
  * (constraints.rs:330-520). */
sealed trait Constraint
object Constraint {
  final case class NotNull(column: String) extends Constraint
  /** DEFAULT fills columns omitted from an INSERT column list; the
    * expression is any constant Catalyst expression. */
  final case class Default(column: String, expr: String) extends Constraint
  /** UNIQUE over one or more columns; NULLs never conflict (PG
    * NULLS DISTINCT, the reference skips null values the same way —
    * constraints.rs:430-447). */
  final case class Unique(columns: Seq[String]) extends Constraint
  /** CHECK passes when the expression is TRUE or NULL (PG semantics). */
  final case class Check(expr: String) extends Constraint
}

/** One row-level-security policy (row_level_security.rs:56-128:
  * Policy{name, table, action, check_type, roles, using_expr,
  * check_expr}). `command` is SELECT/INSERT/UPDATE/DELETE/ALL;
  * `roles` empty = PUBLIC (applies to every user); `permissive`
  * policies OR together, restrictive ones AND (PG semantics, same
  * split as the reference's PolicyCheck::Permissive/Restrictive).
  * `usingExpr` filters visible rows; `checkExpr` validates written
  * rows (absent → usingExpr serves both, as in PG). */
final case class PolicyDef(name: String, table: String, command: String,
    roles: Seq[String], permissive: Boolean,
    usingExpr: Option[String], checkExpr: Option[String])

/** CREATE ALERT rule (driftdb-server/src/alerting.rs:134-166
  * AlertRule): a threshold condition over one deterministic metric.
  * Rules persist with the catalog so an alert configured in one
  * session governs every later one; firing STATE stays per-engine
  * (the reference's AlertManager likewise keeps active alerts in
  * memory only). */
final case class AlertDef(name: String, metric: String, op: String,
    threshold: Double, severity: String)

/** CREATE SEQUENCE state (sequences.rs:8-19). `current` is the last
  * value handed out — initialized to `start - increment` so the first
  * draw returns `start`, exactly like the reference
  * (sequences.rs:53-60). `ownedBy` backs AUTO_INCREMENT columns:
  * (table, column), mirroring the reference's auto_increment_map
  * (sequences.rs:80-105). Draws are non-transactional (a rolled-back
  * statement keeps its drawn values — PG semantics; the reference's
  * SequenceManager is likewise outside transaction state). */
final case class SequenceDef(name: String, start: Long, increment: Long,
    minValue: Option[Long], maxValue: Option[Long], cycle: Boolean,
    current: Long, ownedBy: Option[(String, String)])

/** Table metadata: single-column primary key (mandatory, as in the
  * reference — schema.rs:56-79) plus the column mapping. */
final case class TableDef(
    name: String,
    pk: String, // logical name
    columns: Seq[ColumnDef],
    attached: Option[DataFrame] = None) { // in-memory event log (tests/fixtures)

  def pkPhysical: String =
    columns.find(_.logical == pk)
      .getOrElse(throw new IllegalStateException(s"pk $pk not in $name"))
      .physical

  /** Logical row struct (what a state read returns). */
  def logicalSchema: StructType =
    StructType(columns.map(c => StructField(c.logical, c.dataType)))

  /** Physical payload struct (what event parquet stores). */
  def payloadSchema: StructType =
    StructType(columns.map(c => StructField(c.physical, c.dataType)))
}

/** Catalog of tables / views / indexes for one engine instance —
  * the analogue of the reference's per-table `schema.yaml` + engine
  * registry (schema.rs:45-54, engine.rs:132). Metadata persists as a
  * small line-based file under the engine base dir via the Hadoop
  * FileSystem API, so the same code path works on local disk and HDFS/
  * object stores; in a production deployment this would live in a
  * metastore, but the on-disk contract (event-log parquet + snapshot
  * parquet + descriptor) is the part that matters at 100 TB.
  */
final class TableCatalog(spark: SparkSession, val baseDir: String) {

  private val tables = mutable.LinkedHashMap.empty[String, TableDef]
  private val views = mutable.LinkedHashMap.empty[String, String] // name -> SQL
  // materialized views: name -> (defining SQL, current data version);
  // the reference keeps the same pair (views.rs:40-123 — is_materialized
  // + materialized_data); our data lives in versioned parquet dirs
  private val mviews = mutable.LinkedHashMap.empty[String, (String, Long)]
  // incremental-refresh horizons per matview: base table -> last
  // refresh sequence — recorded only for views whose SQL is
  // incrementally maintainable (IncrementalView.parse) over engine
  // tables; one entry per table of the view's chain (persisted as one
  // `mviewbase` line each, so pre-join catalogs load unchanged)
  private val mviewBases = mutable.HashMap.empty[String, Map[String, Long]]
  // views that refresh themselves incrementally at the end of any
  // statement that advanced a base table past their horizon
  // view -> AUTOREFRESH debounce threshold in stale events (1 = every
  // mutating statement)
  private val mviewAuto = mutable.LinkedHashMap.empty[String, Long]
  private val indexes = mutable.LinkedHashMap.empty[String, (String, String)] // idx -> (table, col)
  private val nextSeqs = mutable.HashMap.empty[String, Long] // last assigned sequence
  private val nextColIds = mutable.HashMap.empty[String, Long] // ALTER ADD physical-name counter
  // child table -> (child col, parent table, parent col); the analogue of
  // the reference's FK registry (fk.rs:44-66), persisted with the catalog
  private val fks = mutable.LinkedHashMap.empty[String, Seq[(String, String, String)]]
  // table -> declared NOT NULL / DEFAULT / UNIQUE / CHECK constraints
  // (constraints.rs:9-35), persisted with the catalog
  private val constraints = mutable.LinkedHashMap.empty[String, Seq[Constraint]]
  // streaming-sink progress: stream id (checkpoint location) -> last
  // COMMITTED micro-batch id — the Delta-commit idempotence pattern that
  // upgrades foreachBatch ingestion from at-least-once to exactly-once
  private val streamBatches = mutable.HashMap.empty[String, Long]
  // per-table ingest watermark: max pk ever admitted through an
  // ordered streaming ingest (StreamingDedup.ingestNearDedup's registry).
  // Persisted so the ordered-ingest guard is a metadata compare, not a
  // full-registry aggregate per micro-batch; max-merged like the
  // sequence counters so manifest replay is a no-op
  private val watermarks = mutable.HashMap.empty[String, Long]
  // flat-log certificate: tables whose live log provably holds ONLY
  // INSERT events with pairwise-distinct primary keys — for them the
  // keyed state collapse is an identity, so reads serve the log as a
  // FLAT scan with no window exchange (the 100 TB shape for append-only
  // fact tables). Granted at CREATE TABLE (empty log), kept only while
  // every landed batch was certified unique (pk probes ran, or the
  // ordered-ingest construction guarantees it); any PATCH/SOFT_DELETE
  // or unprobed INSERT revokes it permanently (TRUNCATE soft-deletes,
  // so it revokes too). Revocations ride the publish manifest, so a
  // crash can never leave a mutated log still marked flat. Persisted
  // POSITIVELY (`flat` lines): a catalog written before this flag
  // existed certifies nothing.
  private val flatLogs = mutable.HashSet.empty[String]
  // trigger name -> (timing, event, table, body, enabled) — the
  // reference's trigger registry (triggers.rs:88-100: timing, events,
  // table, action, enabled); firing runs in QueryEngine
  private val triggers =
    mutable.LinkedHashMap.empty[String, (String, String, String, String, Boolean)]
  // procedure name -> (param names, body script) — the reference's
  // procedure registry (procedures.rs:29-66: name, parameters, body)
  private val procs = mutable.LinkedHashMap.empty[String, (Seq[String], String)]
  private val sequences = mutable.LinkedHashMap.empty[String, SequenceDef]
  // row-level security: tables with RLS enabled + the policy registry
  // ((table, policy name) -> def), the reference's RlsManager state
  // (row_level_security.rs:174-287), persisted with the catalog
  private val rlsTables = mutable.LinkedHashSet.empty[String]
  private val policies = mutable.LinkedHashMap.empty[(String, String), PolicyDef]
  // threshold alert rules (alerting.rs AlertRule), persisted so a rule
  // configured in one session governs every later one. Declared with
  // the other persisted maps: load() runs in the constructor and
  // populates whatever is already initialized.
  private val alerts = mutable.LinkedHashMap.empty[String, AlertDef]
  // table privileges ((table, privilege) -> grantees), the table-level
  // slice of the reference's Permission set (auth.rs:32-120:
  // Select/Insert/Update/Delete{table}); "ALL" covers the four
  private val grants = mutable.LinkedHashMap.empty[(String, String), Set[String]]
  // custom role bundles (rbac.rs:471 create_custom_role): role ->
  // permission set; the four predefined bundles live in SystemRoles
  // and are never persisted. Persisted with the catalog
  private val roleDefs = mutable.LinkedHashMap.empty[String, Set[String]]
  // catalog-granted role memberships (rbac.rs:381 grant_role):
  // user -> role names; effective session roles are these plus any
  // roles carried at setAuth. Persisted with the catalog
  private val userRoles = mutable.LinkedHashMap.empty[String, Set[String]]
  // versioned schema migrations (migration.rs:99-150: version, up/down
  // scripts; :155 AppliedMigration) — version -> (up, down), plus the
  // applied set; both persisted
  private val migrations = mutable.LinkedHashMap.empty[String, (String, Option[String])]
  private val appliedMigs = mutable.LinkedHashSet.empty[String]
  // retention floor per table: time travel below this sequence raises —
  // VACUUM RETAIN physically deleted the events (persisted)
  private val retentionFloors = mutable.HashMap.empty[String, Long]
  val stats = mutable.HashMap.empty[String, Map[String, String]] // ANALYZE output
  // ANALYZE per-column detail (stats.rs:1-60 shape): nullCount/ndv/
  // min/max per column, plus equi-width histograms for numeric
  // columns — session-lived like `stats` (re-ANALYZE after reopen)
  val colStats = mutable.HashMap.empty[String, Map[String, TableCatalog.ColStat]]
  // (table, column) -> buckets of (lo, hi, count)
  val histograms =
    mutable.HashMap.empty[(String, String), Seq[(Double, Double, Long)]]

  load()

  // ------------------------------------------------------------ paths

  def logPath(table: String): String = s"$baseDir/tables/$table/log"
  def snapshotPath(table: String): String = s"$baseDir/tables/$table/snapshots"
  /** Data directory of a materialized view at a given version. */
  def mviewDataPath(name: String, version: Long): String =
    s"$baseDir/matviews/$name/v=$version"
  /** Root of one alias's bucketed aux store (round 18): bucket data
    * lives OUTSIDE the view version dirs so an untouched bucket's
    * files survive version swaps by reference (manifest pointer),
    * never by rewrite. */
  def mviewAuxStoreRoot(name: String, alias: String): String =
    s"$baseDir/matviews/$name/auxstore_$alias"
  def mviewAuxStorePath(name: String, alias: String, version: Long): String =
    s"${mviewAuxStoreRoot(name, alias)}/v=$version"
  private def metaPath = new Path(s"$baseDir/catalog.meta")
  private def metaTmpPath = new Path(s"$baseDir/catalog.meta.tmp")

  private def fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------- tables

  def tableNames: Seq[String] = tables.keys.toSeq
  def viewNames: Seq[String] = views.keys.toSeq ++ mviews.keys
  def get(name: String): Option[TableDef] = tables.get(name)
  def getView(name: String): Option[String] =
    views.get(name).orElse(mviews.get(name).map(_._1))

  def require(name: String): TableDef =
    tables.getOrElse(name,
      throw new IllegalArgumentException(s"table not found: $name"))

  def createTable(name: String, pk: String, cols: Seq[(String, DataType)]): Unit = {
    if (tables.contains(name) || views.contains(name) || mviews.contains(name))
      throw new IllegalArgumentException(s"table or view already exists: $name")
    if (!cols.exists(_._1 == pk))
      throw new IllegalArgumentException(s"primary key $pk not among columns")
    tables(name) = TableDef(name, pk, cols.map { case (c, t) => ColumnDef(c, c, t) })
    nextSeqs(name) = 0L
    nextColIds(name) = cols.size.toLong
    flatLogs += name // empty log: vacuously unique-insert-only
    save()
  }

  /** Register an in-memory event log (sequence/ts/event_type/pk/payload
    * frame) as a queryable table — used by fixtures and tests; not
    * persisted. */
  def attachEventLog(name: String, pk: String, log: DataFrame): Unit = {
    val payload = log.schema("payload").dataType.asInstanceOf[StructType]
    tables(name) = TableDef(name, pk,
      payload.fields.toSeq.map(f => ColumnDef(f.name, f.name, f.dataType)),
      attached = Some(log))
  }

  def dropTable(name: String, ifExists: Boolean = false): Unit = {
    val removed = tables.remove(name)
    if (removed.isEmpty && !ifExists)
      throw new IllegalArgumentException(s"table not found: $name")
    nextSeqs.remove(name)
    nextColIds.remove(name)
    watermarks.remove(name)
    flatLogs -= name
    fks.remove(name) // the reference forgets the dropped child's FKs (fk.rs:68-71)
    constraints.remove(name)
    indexes.filterInPlace { case (_, (t, _)) => t != name }
    triggers.filterInPlace { case (_, (_, _, t, _, _)) => t != name }
    // owned (AUTO_INCREMENT) sequences go with the table, like the
    // reference's auto_increment_map cleanup (sequences.rs:195-207)
    sequences.filterInPlace { case (_, s) => !s.ownedBy.exists(_._1 == name) }
    // RLS state goes with the table (row_level_security.rs drops the
    // per-table policy vec the same way) — a recreated table must not
    // inherit a predecessor's policies
    rlsTables -= name
    policies.filterInPlace { case ((t, _), _) => t != name }
    grants.filterInPlace { case ((t, _), _) => t != name }
    retentionFloors.remove(name)
    // delete the table's storage (event log + snapshots) so a CREATE
    // TABLE under the same name starts empty — leaving the log behind
    // would resurrect the dropped data and collide restarted sequences
    // with historic events (the reference deletes table storage on DROP,
    // sql_bridge.rs:5708-5722)
    if (removed.exists(_.attached.isEmpty)) {
      val p = new Path(s"$baseDir/tables/$name")
      if (fs.exists(p)) fs.delete(p, true)
    }
    save()
  }

  def addColumn(table: String, colName: String, dt: DataType): Unit = {
    val t = require(table)
    if (t.columns.exists(_.logical == colName))
      throw new IllegalArgumentException(s"column exists: $colName")
    // the physical name gets a suffix from a persisted monotonic
    // counter: columns.size would repeat after a DROP COLUMN, and a
    // reused physical field resurrects dropped payload values from
    // historic events
    val id = nextColIds.getOrElse(table, t.columns.size.toLong)
    val phys = s"${colName}_c$id"
    nextColIds(table) = id + 1
    tables(table) = t.copy(columns = t.columns :+ ColumnDef(colName, phys, dt))
    save()
  }

  def renameColumn(table: String, from: String, to: String): Unit = {
    val t = require(table)
    if (!t.columns.exists(_.logical == from))
      throw new IllegalArgumentException(s"column not found: $from")
    if (t.columns.exists(_.logical == to))
      throw new IllegalArgumentException(s"column exists: $to")
    // named constraints follow the rename; a CHECK expression is opaque
    // text, so a rename of a column it references is rejected rather
    // than silently breaking the expression
    for (Constraint.Check(e) <- constraintsOf(table)
        if s"\\b${java.util.regex.Pattern.quote(from)}\\b".r
          .findFirstIn(e).isDefined)
      throw new IllegalArgumentException(
        s"cannot rename $from: referenced by CHECK ($e)")
    constraints.get(table).foreach { list =>
      constraints(table) = list.map {
        case Constraint.NotNull(`from`) => Constraint.NotNull(to)
        case Constraint.Default(`from`, e) => Constraint.Default(to, e)
        case Constraint.Unique(cols) =>
          Constraint.Unique(cols.map(c => if (c == from) to else c))
        case other => other
      }
    }
    tables(table) = t.copy(
      pk = if (t.pk == from) to else t.pk,
      columns = t.columns.map(c =>
        if (c.logical == from) c.copy(logical = to) else c))
    save()
  }

  def dropColumn(table: String, colName: String): Unit = {
    val t = require(table)
    if (t.pk == colName)
      throw new IllegalArgumentException("cannot drop the primary key")
    if (!t.columns.exists(_.logical == colName))
      throw new IllegalArgumentException(s"column not found: $colName")
    // a CHECK referencing the column would break — reject, like rename
    for (Constraint.Check(e) <- constraintsOf(table)
        if s"\\b${java.util.regex.Pattern.quote(colName)}\\b".r
          .findFirstIn(e).isDefined)
      throw new IllegalArgumentException(
        s"cannot drop $colName: referenced by CHECK ($e)")
    // column-scoped constraints go with the column; a UNIQUE set keeps
    // enforcing over its remaining columns only if none were dropped
    constraints.get(table).foreach { list =>
      val kept = list.filter {
        case Constraint.NotNull(c) => c != colName
        case Constraint.Default(c, _) => c != colName
        case Constraint.Unique(cols) => !cols.contains(colName)
        case _ => true
      }
      if (kept.isEmpty) constraints.remove(table) else constraints(table) = kept
    }
    tables(table) = t.copy(columns = t.columns.filterNot(_.logical == colName))
    save()
  }

  // ---------------------------------------------------- foreign keys

  /** Register the FKs declared on a child table (replaces any previous
    * set, as in the reference — fk.rs:55-63). */
  def setForeignKeys(table: String, list: Seq[(String, String, String)]): Unit = {
    if (list.isEmpty) fks.remove(table) else fks(table) = list
    save()
  }

  /** Outgoing FKs of a child table: (child col, parent table, parent col). */
  def foreignKeysOf(table: String): Seq[(String, String, String)] =
    fks.getOrElse(table, Nil)

  // ----------------------------------------------------- constraints

  /** Register a table's declared constraints (replaces the set). */
  def setConstraints(table: String, list: Seq[Constraint]): Unit = {
    if (list.isEmpty) constraints.remove(table) else constraints(table) = list
    save()
  }

  def constraintsOf(table: String): Seq[Constraint] =
    constraints.getOrElse(table, Nil)

  /** Incoming FKs: every (child table, child col) referencing `parent`. */
  def referencingFks(parent: String): Seq[(String, String, String)] =
    fks.iterator.flatMap { case (child, list) =>
      list.collect { case (c, rt, rc) if rt == parent => (child, c, rc) }
    }.toSeq

  // ------------------------------------------------------- sequences

  /** Last assigned sequence for a table (0 = empty log). Mirrors the
    * reference's per-table monotonic counter (table_storage.rs:212);
    * the writer is driver-serialized, as in the reference (process
    * write lock, index.rs:22-26). */
  def lastSeq(table: String): Long = nextSeqs.getOrElse(table, 0L)

  def commitSeq(table: String, upTo: Long): Unit = {
    nextSeqs(table) = upTo
    save()
  }

  /** Apply the catalog side of an atomic publish in ONE persisted step:
    * per-table sequence counters plus (optionally) the committed
    * micro-batch id of a streaming sink. Max-merged so a recovery
    * replay of an already-applied manifest is a no-op. */
  def commitPublished(seqs: Map[String, Long], stream: Option[(String, Long)],
      marks: Map[String, Long] = Map.empty,
      mutated: Set[String] = Set.empty): Unit = {
    for ((t, s) <- seqs if tables.contains(t))
      nextSeqs(t) = math.max(nextSeqs.getOrElse(t, 0L), s)
    for ((id, b) <- stream)
      streamBatches(id) = math.max(streamBatches.getOrElse(id, -1L), b)
    for ((t, v) <- marks if tables.contains(t))
      watermarks(t) = math.max(watermarks.getOrElse(t, Long.MinValue), v)
    flatLogs --= mutated // revocation is idempotent, like the max-merges
    save()
  }

  /** True iff the table's live log is certified to hold only INSERT
    * events with distinct primary keys — the keyed collapse is then an
    * identity and reads may serve the log as a flat scan. */
  def isFlatLog(table: String): Boolean = flatLogs.contains(table)

  /** Max pk ever admitted through an ordered ingest into `table`
    * (None = no ordered ingest recorded — pre-upgrade registries fall
    * back to scanning). */
  def watermark(table: String): Option[Long] = watermarks.get(table)

  /** Forget a table's ingest watermark — TRUNCATE empties the
    * registry's state, so a rebuild-from-scratch pipeline must be
    * able to re-ingest from pk 1 (the content-derived guard resets
    * the same way). */
  def clearWatermark(table: String): Unit =
    if (watermarks.remove(table).isDefined) save()

  /** Last committed micro-batch id for a stream (None = none yet). */
  def lastStreamBatch(streamId: String): Option[Long] = streamBatches.get(streamId)

  // ----------------------------------------------------------- views

  def createView(name: String, sql: String): Unit = {
    if (tables.contains(name) || mviews.contains(name))
      throw new IllegalArgumentException(s"table already exists: $name")
    views(name) = sql
    save()
  }

  /** Register a materialized view (views.rs:40-123). The engine writes
    * version 0's data before calling this, so a registered matview is
    * always readable. */
  def createMaterializedView(name: String, sql: String): Unit = {
    if (tables.contains(name) || views.contains(name))
      throw new IllegalArgumentException(s"table already exists: $name")
    if (mviews.contains(name))
      throw new IllegalArgumentException(s"materialized view already exists: $name")
    mviews(name) = (sql, 0L)
    save()
  }

  def isMaterialized(name: String): Boolean = mviews.contains(name)

  /** All materialized views: (name, defining SQL, data version). */
  def matviewList: Seq[(String, String, Long)] =
    mviews.toSeq.map { case (n, (sql, v)) => (n, sql, v) }

  def mviewVersion(name: String): Long =
    mviews.getOrElse(name, throw new IllegalArgumentException(
      s"materialized view not found: $name"))._2

  /** Point readers at a freshly written data version (REFRESH). */
  def setMviewVersion(name: String, version: Long): Unit = {
    val (sql, _) = mviews.getOrElse(name, throw new IllegalArgumentException(
      s"materialized view not found: $name"))
    mviews(name) = (sql, version)
    save()
  }

  /** Version bump + horizon re-anchors in ONE atomic catalog save: a
    * crash between separate saves would leave a bumped data version
    * with a stale horizon, and the next incremental refresh would
    * DOUBLE-APPLY that window's delta to the already-merged view. */
  def setMviewRefreshed(name: String, version: Long,
      horizons: Map[String, Long]): Unit = {
    val (sql, _) = mviews.getOrElse(name, throw new IllegalArgumentException(
      s"materialized view not found: $name"))
    mviews(name) = (sql, version)
    mviewBases(name) = mviewBases.getOrElse(name, Map.empty) ++ horizons
    save()
  }

  /** All recorded horizons of a view (table -> sequence). */
  def mviewBaseAll(name: String): Map[String, Long] =
    mviewBases.getOrElse(name, Map.empty)

  /** Flag a view for post-statement auto refresh. `every` is the
    * debounce threshold in stale EVENTS (ALTER ... SET AUTOREFRESH ON
    * EVERY n EVENTS): the due check fires only once at least `every`
    * events have landed on some base since the last refresh horizon.
    * 1 (the default) = after every mutating statement. */
  def setMviewAutoRefresh(name: String, on: Boolean,
      every: Long = 1L): Unit = {
    if (on) mviewAuto(name) = every else mviewAuto -= name
    save()
  }

  def isMviewAutoRefresh(name: String): Boolean = mviewAuto.contains(name)

  /** The view's debounce threshold, when flagged. */
  def mviewAutoEvery(name: String): Option[Long] = mviewAuto.get(name)

  def autoRefreshViews: Seq[(String, Long)] = mviewAuto.toSeq

  def dropView(name: String, ifExists: Boolean = false): Unit = {
    val wasView = views.remove(name).isDefined
    val wasMview = mviews.remove(name).isDefined
    mviewBases.remove(name)
    mviewAuto -= name
    if (!wasView && !wasMview && !ifExists)
      throw new IllegalArgumentException(s"view not found: $name")
    if (wasMview) { // materialized data goes with the definition
      val p = new Path(s"$baseDir/matviews/$name")
      if (fs.exists(p)) fs.delete(p, true)
    }
    save()
  }

  // --------------------------------------------------------- indexes

  /** CREATE INDEX records metadata only: parquet min/max pruning and
    * predicate pushdown subsume the reference's BTreeMap secondary
    * indexes (index.rs:9-36) — SURVEY §1.4. A COMPOSITE index stores
    * its column list comma-joined in the single column slot (the
    * persisted line format is unchanged, so old catalogs load as
    * single-column indexes); every listed column gets bloom-stamped
    * (index_strategies.rs's composite strategies, lakehouse form). */
  def createIndex(idx: String, table: String,
      columns: Seq[String]): Unit = {
    require(table)
    if (columns.isEmpty)
      throw new IllegalArgumentException("an index needs at least one column")
    indexes(idx) = (table, columns.mkString(","))
    save()
  }

  def indexNames: Seq[String] = indexes.keys.toSeq

  /** (index, table, columns-csv) triples for SHOW INDEXES. */
  def indexList: Seq[(String, String, String)] =
    indexes.toSeq.map { case (i, (t, c)) => (i, t, c) }

  def dropIndex(idx: String, ifExists: Boolean = false): Unit = {
    if (indexes.remove(idx).isEmpty && !ifExists)
      throw new IllegalArgumentException(s"index not found: $idx")
    save()
  }

  /** Logical columns with a declared index on `table` (bloom-filter
    * write options derive from this) — composite indexes contribute
    * every listed column. */
  def indexedColumns(table: String): Seq[String] =
    indexes.values.collect { case (t, c) if t == table => c }
      .flatMap(_.split(",")).map(_.trim).toSeq.distinct

  /** The clustering hint a bare OPTIMIZE uses: the first declared
    * MULTI-column index's columns (a composite declaration says "my
    * point probes arrive on these columns together" — Z-ordering the
    * rewrite by them makes every listed column's min/max and bloom
    * selective at once). */
  def compositeIndexColumns(table: String): Seq[String] =
    indexes.values.collectFirst {
      case (t, c) if t == table && c.contains(",") =>
        c.split(",").toIndexedSeq.map(_.trim)
    }.getOrElse(Nil)

  // -------------------------------------------------------- triggers

  /** CREATE TRIGGER records (timing, event, table, body); firing runs
    * in QueryEngine (triggers.rs:199-248 create, 332-423 execute).
    * Triggers start enabled, as in the reference (triggers.rs:97). */
  def createTrigger(name: String, timing: String, event: String,
      table: String, body: String): Unit = {
    if (triggers.contains(name))
      throw new IllegalArgumentException(s"trigger already exists: $name")
    require(table)
    triggers(name) = (timing.toUpperCase, event.toUpperCase, table, body, true)
    save()
  }

  def dropTrigger(name: String, ifExists: Boolean = false): Unit = {
    if (triggers.remove(name).isEmpty && !ifExists)
      throw new IllegalArgumentException(s"trigger not found: $name")
    save()
  }

  /** ALTER TRIGGER name ENABLE/DISABLE (triggers.rs:286-330). */
  def setTriggerEnabled(name: String, enabled: Boolean): Unit = {
    val t = triggers.getOrElse(name,
      throw new IllegalArgumentException(s"trigger not found: $name"))
    triggers(name) = t.copy(_5 = enabled)
    save()
  }

  /** All triggers: (name, timing, event, table, body, enabled). */
  def triggerList: Seq[(String, String, String, String, String, Boolean)] =
    triggers.iterator.map { case (n, (ti, ev, ta, b, en)) =>
      (n, ti, ev, ta, b, en) }.toSeq

  /** ENABLED triggers to fire for one (table, event, timing), in
    * creation order (the reference sorts by priority then name,
    * triggers.rs:342-360; ours fire in declaration order):
    * (name, body). */
  def triggersFor(table: String, event: String, timing: String): Seq[(String, String)] =
    triggers.iterator.collect {
      case (n, (ti, ev, ta, b, true))
          if ta == table && ev == event && ti == timing => (n, b)
    }.toSeq

  /** Any enabled trigger on (table, event), either timing? The engine
    * uses this to decide whether the affected-row batch needs pinning
    * before the DML mutates the log it reads. */
  def hasTriggers(table: String, event: String): Boolean =
    triggers.valuesIterator.exists {
      case (_, ev, ta, _, en) => en && ta == table && ev == event
    }

  // ------------------------------------------------------ procedures

  /** CREATE PROCEDURE (procedures.rs:457-500): records (param names,
    * body script). Bodies bind `$param` placeholders at CALL. */
  def createProcedure(name: String, params: Seq[String], body: String,
      orReplace: Boolean): Unit = {
    if (procs.contains(name) && !orReplace)
      throw new IllegalArgumentException(s"procedure already exists: $name")
    val dup = params.diff(params.distinct)
    if (dup.nonEmpty)
      throw new IllegalArgumentException(s"duplicate parameter: ${dup.head}")
    procs(name) = (params, body)
    save()
  }

  def dropProcedure(name: String, ifExists: Boolean = false): Unit = {
    if (procs.remove(name).isEmpty && !ifExists)
      throw new IllegalArgumentException(s"procedure not found: $name")
    save()
  }

  def getProcedure(name: String): Option[(Seq[String], String)] = procs.get(name)

  /** All procedures: (name, param names, body). */
  def procedureList: Seq[(String, Seq[String], String)] =
    procs.iterator.map { case (n, (ps, b)) => (n, ps, b) }.toSeq

  // ------------------------------------------------------- sequences

  /** CREATE SEQUENCE (sequences.rs:52-78): validates increment != 0
    * and min < max, initializes current to start - increment so the
    * first draw returns start. */
  def createSequence(name: String, start: Long, increment: Long,
      minValue: Option[Long], maxValue: Option[Long], cycle: Boolean,
      ownedBy: Option[(String, String)] = None): Unit = {
    if (sequences.contains(name))
      throw new IllegalArgumentException(s"sequence already exists: $name")
    if (increment == 0L)
      throw new IllegalArgumentException("INCREMENT BY cannot be zero")
    for (min <- minValue; max <- maxValue)
      if (min >= max)
        throw new IllegalArgumentException("MINVALUE must be less than MAXVALUE")
    sequences(name) = SequenceDef(name, start, increment, minValue, maxValue,
      cycle, start - increment, ownedBy)
    save()
  }

  def dropSequence(name: String, ifExists: Boolean = false): Unit = {
    if (sequences.remove(name).isEmpty && !ifExists)
      throw new IllegalArgumentException(s"sequence not found: $name")
    save()
  }

  private def seqRequire(name: String): SequenceDef =
    sequences.getOrElse(name,
      throw new IllegalArgumentException(s"sequence not found: $name"))

  /** nextval: one draw with bounds + CYCLE semantics exactly as the
    * reference's refill (sequences.rs:225-273, cache size 1 — we do
    * not pre-draw blocks for scalar calls; batch fills reserve blocks
    * explicitly via [[reserveSequenceBlock]]). */
  def nextval(name: String): Long = {
    val s = seqRequire(name)
    var next = s.current + s.increment
    for (max <- s.maxValue if next > max)
      next =
        if (s.cycle) s.minValue.getOrElse(1L)
        else throw new IllegalArgumentException(
          s"sequence $name exceeded maximum value")
    for (min <- s.minValue if next < min)
      next =
        if (s.cycle) s.maxValue.getOrElse(Long.MaxValue)
        else throw new IllegalArgumentException(
          s"sequence $name fell below minimum value")
    sequences(name) = s.copy(current = next)
    save()
    next
  }

  /** currval: last value handed out, without drawing
    * (sequences.rs:144-152 current_value). */
  def currval(name: String): Long = seqRequire(name).current

  /** Reserve n consecutive values [first, first + inc*(n-1)] in ONE
    * catalog write — the batch-fill shape for AUTO_INCREMENT columns:
    * the driver reserves once, executors assign distributed (the
    * reference draws per row under a lock, sequences.rs:108-142; at
    * 100 TB a per-row lock draw is the bottleneck, a block
    * reservation is O(1)). The block must not wrap: a bounded CYCLE
    * sequence wraps only at the block START (same rule as a single
    * draw); a wrap mid-block throws. */
  def reserveSequenceBlock(name: String, n: Long): Long = {
    if (n <= 0)
      throw new IllegalArgumentException(s"sequence block size must be positive: $n")
    val s = seqRequire(name)
    var first = s.current + s.increment
    for (max <- s.maxValue if first > max)
      first =
        if (s.cycle) s.minValue.getOrElse(1L)
        else throw new IllegalArgumentException(
          s"sequence $name exceeded maximum value")
    for (min <- s.minValue if first < min)
      first =
        if (s.cycle) s.maxValue.getOrElse(Long.MaxValue)
        else throw new IllegalArgumentException(
          s"sequence $name fell below minimum value")
    val last = first + s.increment * (n - 1)
    if (s.increment > 0)
      for (max <- s.maxValue if last > max)
        throw new IllegalArgumentException(
          s"sequence $name exceeded maximum value")
    else
      for (min <- s.minValue if last < min)
        throw new IllegalArgumentException(
          s"sequence $name fell below minimum value")
    sequences(name) = s.copy(current = last)
    save()
    first
  }

  /** ALTER SEQUENCE name RESTART [WITH v] (sequences.rs:180-192
    * restart_sequence; WITH v is set_value semantics where the NEXT
    * draw returns v). */
  def restartSequence(name: String, withValue: Option[Long]): Unit = {
    val s = seqRequire(name)
    val nextStart = withValue.getOrElse(s.start)
    for (min <- s.minValue if nextStart < min)
      throw new IllegalArgumentException(
        s"value $nextStart is below minimum $min")
    for (max <- s.maxValue if nextStart > max)
      throw new IllegalArgumentException(
        s"value $nextStart exceeds maximum $max")
    sequences(name) = s.copy(current = nextStart - s.increment)
    save()
  }

  def sequenceList: Seq[SequenceDef] = sequences.values.toSeq

  def getSequence(name: String): Option[SequenceDef] = sequences.get(name)

  /** The AUTO_INCREMENT sequence owned by `table`, if any:
    * (sequence name, column). */
  def autoIncSequenceFor(table: String): Option[(String, String)] =
    sequences.valuesIterator.collectFirst {
      case s if s.ownedBy.exists(_._1 == table) => (s.name, s.ownedBy.get._2)
    }

  // ---------------------------------------------- row-level security

  /** ALTER TABLE ... ENABLE/DISABLE ROW LEVEL SECURITY
    * (row_level_security.rs:195-222). Policies survive a disable —
    * they just stop applying, as in PG. */
  def setRlsEnabled(table: String, enabled: Boolean): Unit = {
    require(table) // raises on unknown table
    if (enabled) rlsTables += table else rlsTables -= table
    save()
  }

  def isRlsEnabled(table: String): Boolean = rlsTables.contains(table)

  /** CREATE POLICY (row_level_security.rs:224-248: duplicate name on
    * the same table rejected). */
  def createPolicy(p: PolicyDef): Unit = {
    require(p.table) // raises on unknown table
    if (policies.contains((p.table, p.name)))
      throw new IllegalArgumentException(
        s"policy already exists: ${p.name} on ${p.table}")
    policies((p.table, p.name)) = p
    save()
  }

  def dropPolicy(table: String, name: String, ifExists: Boolean = false): Unit = {
    if (policies.remove((table, name)).isEmpty && !ifExists)
      throw new IllegalArgumentException(s"policy not found: $name on $table")
    save()
  }

  /** Policies that could govern `command` on `table` (ALL always
    * applies; role filtering happens in the engine, which knows the
    * session). */
  def policiesFor(table: String, command: String): Seq[PolicyDef] =
    policies.valuesIterator.filter(p => p.table == table &&
      (p.command == "ALL" || p.command == command)).toSeq

  def policyList: Seq[PolicyDef] = policies.values.toSeq

  // ----------------------------------------------------------- alerting

  def createAlert(a: AlertDef): Unit = {
    if (alerts.contains(a.name))
      throw new IllegalArgumentException(s"alert already exists: ${a.name}")
    alerts(a.name) = a
    save()
  }

  /** @return true iff the alert existed. */
  def dropAlert(name: String): Boolean = {
    val existed = alerts.remove(name).isDefined
    if (existed) save()
    existed
  }

  def alertList: Seq[AlertDef] = alerts.values.toSeq

  // ---------------------------------------------------------- retention

  def retentionFloor(table: String): Long = retentionFloors.getOrElse(table, 0L)

  def setRetentionFloor(table: String, seq: Long): Unit = {
    retentionFloors(table) = math.max(retentionFloor(table), seq)
    save()
  }

  // --------------------------------------------------------- migrations

  /** Parse "x[.y[.z]]" into an orderable triple (migration.rs:22-64
    * Version::from_str; missing parts are 0). */
  def migVersionKey(v: String): (Long, Long, Long) = {
    val parts = v.split("\\.", -1)
    if (parts.isEmpty || parts.length > 3 ||
        parts.exists(p => p.isEmpty || !p.forall(_.isDigit)))
      throw new IllegalArgumentException(
        s"bad migration version (want x.y.z): $v")
    def at(i: Int) = if (i < parts.length) parts(i).toLong else 0L
    (at(0), at(1), at(2))
  }

  def createMigration(version: String, up: String, down: Option[String]): Unit = {
    migVersionKey(version) // validate the shape at registration
    if (migrations.contains(version))
      throw new IllegalArgumentException(s"migration already exists: $version")
    migrations(version) = (up, down)
    save()
  }

  /** Registered migrations in version order: (version, up, down,
    * applied). */
  def migrationList: Seq[(String, String, Option[String], Boolean)] =
    migrations.toSeq.sortBy { case (v, _) => migVersionKey(v) }
      .map { case (v, (up, down)) => (v, up, down, appliedMigs.contains(v)) }

  def markMigrationApplied(version: String, applied: Boolean): Unit = {
    if (applied) appliedMigs += version else appliedMigs -= version
    save()
  }

  // ------------------------------------------------- table privileges

  val Privileges: Set[String] = Set("SELECT", "INSERT", "UPDATE", "DELETE", "ALL")

  /** GRANT privs ON table TO grantees (auth.rs:647 check_permission's
    * registry side; grant semantics are additive like PG). */
  def grant(table: String, privs: Seq[String], grantees: Seq[String]): Unit = {
    require(table)
    for (p <- privs) {
      val key = (table, p)
      grants(key) = grants.getOrElse(key, Set.empty) ++ grantees
    }
    save()
  }

  /** REVOKE privs ON table FROM grantees. Revoking ALL removes the
    * grantee from every privilege of the table (PG behavior). */
  def revoke(table: String, privs: Seq[String], grantees: Seq[String]): Unit = {
    require(table)
    val targets = if (privs.contains("ALL")) Privileges.toSeq else privs
    for (p <- targets; key = (table, p); cur <- grants.get(key)) {
      val next = cur -- grantees
      if (next.isEmpty) grants.remove(key) else grants(key) = next
    }
    save()
  }

  /** Grantees holding `priv` (or ALL) on `table`. */
  def granteesOf(table: String, priv: String): Set[String] =
    grants.getOrElse((table, priv), Set.empty) ++
      grants.getOrElse((table, "ALL"), Set.empty)

  /** (table, privilege, grantee) rows for SHOW GRANTS. */
  def grantList: Seq[(String, String, String)] =
    grants.toSeq.flatMap { case ((t, p), gs) => gs.toSeq.sorted.map((t, p, _)) }

  // ----------------------------------------------------------- roles

  /** Role-permission vocabulary (the graft enforcement points the
    * reference's Permission enum maps onto, rbac.rs:20-84): the DML
    * classes checkPrivilege consumes database-wide, the gated DDL/
    * maintenance classes, GRANT_ROLE for role administration, and the
    * SUPERUSER marker that short-circuits every check. */
  val RolePermissions: Set[String] = Set("SUPERUSER",
    "SELECT", "INSERT", "UPDATE", "DELETE",
    "CREATE_TABLE", "DROP_TABLE", "ALTER_TABLE", "TRUNCATE",
    "CREATE_INDEX", "DROP_INDEX", "GRANT_ROLE",
    "CREATE_SNAPSHOT", "COMPACT", "VIEW_METRICS", "VIEW_AUDIT")

  /** The reference's predefined bundles (rbac.rs:200-334:
    * Role::superuser/admin/user/readonly) re-expressed in the graft
    * vocabulary. Always present; never persisted or droppable. */
  val SystemRoles: Map[String, Set[String]] = Map(
    "superuser" -> Set("SUPERUSER"),
    "admin" -> Set("SELECT", "INSERT", "UPDATE", "DELETE",
      "CREATE_TABLE", "DROP_TABLE", "ALTER_TABLE", "TRUNCATE",
      "CREATE_INDEX", "DROP_INDEX", "GRANT_ROLE",
      "CREATE_SNAPSHOT", "COMPACT", "VIEW_METRICS", "VIEW_AUDIT"),
    "user" -> Set("SELECT", "INSERT", "UPDATE", "DELETE",
      "CREATE_TABLE", "CREATE_INDEX", "CREATE_SNAPSHOT"),
    "readonly" -> Set("SELECT", "VIEW_METRICS"))

  /** CREATE ROLE (rbac.rs:471-489 create_custom_role): name must be
    * fresh — system bundles included — and every permission known. */
  def createRole(name: String, perms: Set[String]): Unit = {
    val key = name.toLowerCase
    if (SystemRoles.contains(key) || roleDefs.contains(key))
      throw new IllegalArgumentException(s"role already exists: $name")
    val bad = perms.diff(RolePermissions)
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"unknown permission(s): ${bad.toSeq.sorted.mkString(", ")} " +
        s"(valid: ${RolePermissions.toSeq.sorted.mkString(", ")})")
    roleDefs(key) = perms
    save()
  }

  /** DROP ROLE (rbac.rs:492-512 delete_custom_role): system bundles
    * refuse; memberships of the dropped role go with it. */
  def dropRole(name: String, ifExists: Boolean = false): Unit = {
    val key = name.toLowerCase
    if (SystemRoles.contains(key))
      throw new IllegalArgumentException(s"cannot drop system role: $name")
    if (roleDefs.remove(key).isEmpty) {
      if (!ifExists) throw new IllegalArgumentException(s"role not found: $name")
    } else {
      for ((u, rs) <- userRoles.toSeq if rs.contains(key)) {
        val next = rs - key
        if (next.isEmpty) userRoles.remove(u) else userRoles(u) = next
      }
      save()
    }
  }

  def roleExists(name: String): Boolean = {
    val key = name.toLowerCase
    SystemRoles.contains(key) || roleDefs.contains(key)
  }

  /** A role's permission bundle (empty for unknown roles — a grantee
    * string that is not a declared role simply carries no bundle). */
  def rolePerms(name: String): Set[String] = {
    val key = name.toLowerCase
    SystemRoles.getOrElse(key, roleDefs.getOrElse(key, Set.empty))
  }

  /** GRANT role TO user (rbac.rs:381-397 grant_role). */
  def grantRole(user: String, role: String): Unit = {
    val key = role.toLowerCase
    if (!roleExists(key))
      throw new IllegalArgumentException(s"role not found: $role")
    userRoles(user) = userRoles.getOrElse(user, Set.empty) + key
    save()
  }

  /** REVOKE role FROM user (rbac.rs:400-414 revoke_role: revoking a
    * role the user does not hold is an error). */
  def revokeRole(user: String, role: String): Unit = {
    val key = role.toLowerCase
    val cur = userRoles.getOrElse(user, Set.empty)
    if (!cur.contains(key)) throw new IllegalArgumentException(
      s"user '$user' does not have role '$role'")
    val next = cur - key
    if (next.isEmpty) userRoles.remove(user) else userRoles(user) = next
    save()
  }

  /** Catalog-granted role memberships of a user (rbac.rs:417-429). */
  def rolesOf(user: String): Set[String] =
    userRoles.getOrElse(user, Set.empty)

  /** (role, isSystem, perms) rows, system bundles first. */
  def roleList: Seq[(String, Boolean, Set[String])] =
    SystemRoles.toSeq.sortBy(_._1).map { case (n, p) => (n, true, p) } ++
      roleDefs.toSeq.map { case (n, p) => (n, false, p) }

  /** (user, role) membership rows for SHOW ROLES. */
  def roleMembers: Seq[(String, String)] =
    userRoles.toSeq.flatMap { case (u, rs) => rs.toSeq.sorted.map((u, _)) }
      .sortBy(identity)

  /** Re-read the persisted descriptor, discarding in-memory state —
    * used after RESTORE DATABASE swaps the base dir's contents
    * (attached in-memory logs are registration-time state, not
    * persisted, so they do not survive a reload). */
  def reload(): Unit = {
    tables.clear(); views.clear(); mviews.clear(); indexes.clear()
    nextSeqs.clear(); nextColIds.clear(); fks.clear(); constraints.clear()
    streamBatches.clear(); watermarks.clear(); flatLogs.clear()
    triggers.clear(); procs.clear()
    sequences.clear(); rlsTables.clear(); policies.clear(); grants.clear()
    roleDefs.clear(); userRoles.clear(); alerts.clear()
    migrations.clear(); appliedMigs.clear(); retentionFloors.clear()
    stats.clear(); colStats.clear(); histograms.clear()
    load()
  }

  // ----------------------------------------------------- persistence

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def dec(s: String) = URLDecoder.decode(s, UTF_8)

  private def save(): Unit = {
    val sb = new StringBuilder
    for ((name, t) <- tables if t.attached.isEmpty) {
      sb.append(s"table\t${enc(name)}\t${enc(t.pk)}\t${nextSeqs.getOrElse(name, 0L)}\t${nextColIds.getOrElse(name, t.columns.size.toLong)}\n")
      for (c <- t.columns)
        sb.append(s"col\t${enc(name)}\t${enc(c.logical)}\t${enc(c.physical)}\t${enc(c.dataType.json)}\n")
    }
    for ((name, list) <- fks; (c, rt, rc) <- list)
      sb.append(s"fk\t${enc(name)}\t${enc(c)}\t${enc(rt)}\t${enc(rc)}\n")
    for ((name, list) <- constraints; c <- list) c match {
      case Constraint.NotNull(col) =>
        sb.append(s"con\t${enc(name)}\tnotnull\t${enc(col)}\n")
      case Constraint.Default(col, e) =>
        sb.append(s"con\t${enc(name)}\tdefault\t${enc(col)}\t${enc(e)}\n")
      case Constraint.Unique(cols) =>
        sb.append(s"con\t${enc(name)}\tunique\t${cols.map(enc).mkString(",")}\n")
      case Constraint.Check(e) =>
        sb.append(s"con\t${enc(name)}\tcheck\t${enc(e)}\n")
    }
    for ((name, sql) <- views)
      sb.append(s"view\t${enc(name)}\t${enc(sql)}\n")
    for ((name, (sql, ver)) <- mviews)
      sb.append(s"mview\t${enc(name)}\t${enc(sql)}\t$ver\n")
    for ((name, m) <- mviewBases; (t, seq) <- m)
      sb.append(s"mviewbase\t${enc(name)}\t${enc(t)}\t$seq\n")
    for ((name, every) <- mviewAuto)
      sb.append(s"mviewauto\t${enc(name)}\t$every\n")
    for ((idx, (t, c)) <- indexes)
      sb.append(s"index\t${enc(idx)}\t${enc(t)}\t${enc(c)}\n")
    for ((id, b) <- streamBatches)
      sb.append(s"stream\t${enc(id)}\t$b\n")
    for ((t, v) <- watermarks)
      sb.append(s"wmark\t${enc(t)}\t$v\n")
    for (t <- flatLogs)
      sb.append(s"flat\t${enc(t)}\n")
    for ((name, (ti, ev, ta, body, en)) <- triggers)
      sb.append(s"trigger\t${enc(name)}\t${enc(ti)}\t${enc(ev)}\t${enc(ta)}\t${enc(body)}\t${if (en) 1 else 0}\n")
    for ((name, (params, body)) <- procs)
      sb.append(s"proc\t${enc(name)}\t${params.map(enc).mkString(",")}\t${enc(body)}\n")
    for ((name, s) <- sequences)
      sb.append(s"sequence\t${enc(name)}\t${s.start}\t${s.increment}\t" +
        s"${s.minValue.fold("")(_.toString)}\t${s.maxValue.fold("")(_.toString)}\t" +
        s"${if (s.cycle) 1 else 0}\t${s.current}\t" +
        s"${s.ownedBy.fold("")(o => enc(o._1))}\t${s.ownedBy.fold("")(o => enc(o._2))}\n")
    for (t <- rlsTables)
      sb.append(s"rls\t${enc(t)}\n")
    for (((_, _), p) <- policies)
      sb.append(s"policy\t${enc(p.table)}\t${enc(p.name)}\t${enc(p.command)}\t" +
        s"${p.roles.map(enc).mkString(",")}\t${if (p.permissive) 1 else 0}\t" +
        s"${p.usingExpr.fold("")(enc)}\t${p.checkExpr.fold("")(enc)}\n")
    for ((_, a) <- alerts)
      sb.append(s"alert\t${enc(a.name)}\t${enc(a.metric)}\t${enc(a.op)}\t" +
        s"${a.threshold}\t${enc(a.severity)}\n")
    for (((t, p), gs) <- grants; g <- gs)
      sb.append(s"grant\t${enc(t)}\t${enc(p)}\t${enc(g)}\n")
    for ((r, ps) <- roleDefs)
      sb.append(s"roledef\t${enc(r)}\t${ps.toSeq.sorted.map(enc).mkString(",")}\n")
    for ((u, rs) <- userRoles; r <- rs.toSeq.sorted)
      sb.append(s"urole\t${enc(u)}\t${enc(r)}\n")
    for ((v, (up, down)) <- migrations)
      sb.append(s"migration\t${enc(v)}\t${enc(up)}\t${down.fold("")(enc)}\n")
    for (v <- appliedMigs)
      sb.append(s"applied\t${enc(v)}\n")
    for ((t, f) <- retentionFloors)
      sb.append(s"retain\t${enc(t)}\t$f\n")
    // crash-safe descriptor replacement: write the whole file to a tmp
    // path, then swap. A crash mid-create leaves the old meta intact; a
    // crash between delete and rename leaves only the tmp, which load()
    // recovers. fs.create(path, true) truncate-then-write has no such
    // guarantee — a crash mid-write corrupts the only copy.
    val out = fs.create(metaTmpPath, true)
    try out.write(sb.toString.getBytes(UTF_8)) finally out.close()
    if (fs.exists(metaPath)) fs.delete(metaPath, false)
    if (!fs.rename(metaTmpPath, metaPath))
      throw new java.io.IOException(s"catalog meta swap failed: $metaPath")
  }

  private def load(): Unit = {
    // Source selection is READ-ONLY: if a save() crashed between its
    // delete and rename, the tmp file is the newest complete descriptor
    // — read it in place (the next save() heals the swap). Renaming it
    // here would race a LIVE writer mid-swap and steal its tmp out from
    // under the rename. A lock-free reader can also catch the swap in
    // its empty window (meta deleted, tmp not yet renamed): when the
    // dir shows prior engine state, retry briefly instead of silently
    // loading an empty catalog.
    var src: Option[Path] = None
    var attempts = 0
    while (src.isEmpty) {
      if (fs.exists(metaPath)) src = Some(metaPath)
      else if (fs.exists(metaTmpPath)) src = Some(metaTmpPath)
      else {
        val hasPriorState = fs.exists(new Path(s"$baseDir/tables")) ||
          fs.exists(new Path(s"$baseDir/.engine.lock"))
        if (!hasPriorState || attempts >= 5) return // genuinely fresh dir
        attempts += 1
        Thread.sleep(50)
      }
    }
    val in = fs.open(src.get)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val cols = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[ColumnDef]]
    val heads = mutable.LinkedHashMap.empty[String, (String, Long, Option[Long])]
    // split with -1: a record whose LAST field is empty (e.g. a trigger
    // with no body) must keep its arity — the default split drops
    // trailing empty strings and would brick the catalog as "corrupt"
    for (line <- text.split("\n") if line.nonEmpty) line.split("\t", -1) match {
      case Array("table", n, pk, seq) => heads(dec(n)) = (dec(pk), seq.toLong, None)
      case Array("table", n, pk, seq, colId) =>
        heads(dec(n)) = (dec(pk), seq.toLong, Some(colId.toLong))
      case Array("col", n, lo, ph, dt) =>
        cols.getOrElseUpdate(dec(n), mutable.ArrayBuffer.empty) +=
          ColumnDef(dec(lo), dec(ph), DataType.fromJson(dec(dt)))
      case Array("fk", n, c, rt, rc) =>
        fks(dec(n)) = fks.getOrElse(dec(n), Nil) :+ ((dec(c), dec(rt), dec(rc)))
      case Array("con", n, "notnull", c) =>
        constraints(dec(n)) =
          constraints.getOrElse(dec(n), Nil) :+ Constraint.NotNull(dec(c))
      case Array("con", n, "default", c, e) =>
        constraints(dec(n)) =
          constraints.getOrElse(dec(n), Nil) :+ Constraint.Default(dec(c), dec(e))
      case Array("con", n, "unique", cs) =>
        constraints(dec(n)) = constraints.getOrElse(dec(n), Nil) :+
          Constraint.Unique(cs.split(",", -1).toSeq.map(dec))
      case Array("con", n, "check", e) =>
        constraints(dec(n)) =
          constraints.getOrElse(dec(n), Nil) :+ Constraint.Check(dec(e))
      case Array("view", n, sql) => views(dec(n)) = dec(sql)
      case Array("mview", n, sql, ver) => mviews(dec(n)) = (dec(sql), ver.toLong)
      case Array("mviewbase", n, t, seq) => mviewBases(dec(n)) =
        mviewBases.getOrElse(dec(n), Map.empty) + (dec(t) -> seq.toLong)
      case Array("mviewauto", n) => mviewAuto(dec(n)) = 1L // pre-round-15
      case Array("mviewauto", n, every) => mviewAuto(dec(n)) = every.toLong
      case Array("index", i, t, c) => indexes(dec(i)) = (dec(t), dec(c))
      case Array("stream", id, b) => streamBatches(dec(id)) = b.toLong
      case Array("wmark", t, v) => watermarks(dec(t)) = v.toLong
      case Array("flat", t) => flatLogs += dec(t)
      case Array("trigger", n, ti, ev, ta, body) => // pre-round-6 line
        triggers(dec(n)) = (dec(ti), dec(ev), dec(ta), dec(body), true)
      case Array("trigger", n, ti, ev, ta, body, en) =>
        triggers(dec(n)) = (dec(ti), dec(ev), dec(ta), dec(body), en == "1")
      case Array("proc", n, params, body) =>
        procs(dec(n)) =
          (if (params.isEmpty) Nil
           else params.split(",", -1).toSeq.map(dec), dec(body))
      case Array("sequence", n, st, inc, min, max, cyc, cur, ot, oc) =>
        sequences(dec(n)) = SequenceDef(dec(n), st.toLong, inc.toLong,
          if (min.isEmpty) None else Some(min.toLong),
          if (max.isEmpty) None else Some(max.toLong),
          cyc == "1", cur.toLong,
          if (ot.isEmpty) None else Some((dec(ot), dec(oc))))
      case Array("rls", t) => rlsTables += dec(t)
      case Array("grant", t, p, g) =>
        val key = (dec(t), dec(p))
        grants(key) = grants.getOrElse(key, Set.empty) + dec(g)
      case Array("roledef", r, ps) =>
        roleDefs(dec(r)) =
          if (ps.isEmpty) Set.empty else ps.split(",", -1).map(dec).toSet
      case Array("urole", u, r) =>
        userRoles(dec(u)) = userRoles.getOrElse(dec(u), Set.empty) + dec(r)
      case Array("migration", v, up, down) =>
        migrations(dec(v)) =
          (dec(up), if (down.isEmpty) None else Some(dec(down)))
      case Array("applied", v) => appliedMigs += dec(v)
      case Array("retain", t, f) => retentionFloors(dec(t)) = f.toLong
      case Array("policy", t, n, cmd, roles, perm, usingE, checkE) =>
        policies((dec(t), dec(n))) = PolicyDef(dec(n), dec(t), dec(cmd),
          if (roles.isEmpty) Nil else roles.split(",", -1).toSeq.map(dec),
          perm == "1",
          if (usingE.isEmpty) None else Some(dec(usingE)),
          if (checkE.isEmpty) None else Some(dec(checkE)))
      case Array("alert", n, m, op, thr, sev) =>
        alerts(dec(n)) = AlertDef(dec(n), dec(m), dec(op), thr.toDouble, dec(sev))
      case other =>
        throw new IllegalStateException(s"corrupt catalog line: ${other.mkString("\t")}")
    }
    for ((n, (pk, seq, colId)) <- heads) {
      val cs = cols.getOrElse(n, mutable.ArrayBuffer.empty).toSeq
      tables(n) = TableDef(n, pk, cs)
      nextSeqs(n) = seq
      // legacy meta without a counter: resume past the highest suffix
      // already minted so re-adds never reuse a historic physical name
      nextColIds(n) = colId.getOrElse {
        val suffixes = cs.map(_.physical).collect {
          case p if p.lastIndexOf("_c") >= 0 =>
            p.substring(p.lastIndexOf("_c") + 2) match {
              case s if s.nonEmpty && s.forall(_.isDigit) => s.toLong + 1
              case _ => 0L
            }
        }
        (cs.size.toLong +: suffixes).max
      }
    }
  }
}

object TableCatalog {
  /** ANALYZE per-column detail row — top-level so the generated
    * case-class equals carries no outer-instance reference. */
  final case class ColStat(nullCount: Long, ndv: Long,
      min: String, max: String)
}
