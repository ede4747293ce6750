package graft.exec

import graft.catalog.{ColumnDef, TableCatalog, TableDef}
import graft.log.EventLog
import graft.sql.{SqlText, Statement, StatementRouter, SystemTime, TemporalPre}
import graft.state.{Snapshots, StateView}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructField, StructType}

/** The engine shell: `engine.sql(query): DataFrame` — the single entry
  * point the reference exposes as `execute_sql` (sql_bridge.rs:234-237).
  *
  * Lifecycle of a statement (mirrors execute_sql_inner,
  * sql_bridge.rs:274-757, re-expressed Spark-first — SURVEY §3.3):
  *   1. StatementRouter classifies DDL / DML / utility / query.
  *   2. Queries: TemporalPre strips `FOR SYSTEM_TIME ...` at string
  *      level (sql_bridge.rs:304-320); the cleaned text is parsed once
  *      and every engine table it references is bound into the plan,
  *      resolved at that point in time (state collapse, history, or
  *      change range); stored views are expanded recursively
  *      (sql_bridge.rs:1203-1259) — Catalyst owns analysis,
  *      optimization, and execution from there.
  *   3. DML: INSERT / UPDATE / DELETE / TRUNCATE become Insert / Patch
  *      / SoftDelete event appends with monotonic sequence assignment
  *      and parquet persistence (sql_bridge.rs:3505-3663, 5473-5668,
  *      5981-6088; table_storage.rs:212). UPDATE emits full-row
  *      patches, exactly like the reference's SQL layer
  *      (sql_bridge.rs:5534-5537, 5637-5649).
  *
  * Every statement returns a DataFrame (DML returns an affected-rows
  * summary), so the surface is uniform and lazy where possible.
  *
  * Name scoping: engine tables bind into each statement's own plan and
  * never enter the session's namespace, so multiple engines over
  * different base dirs can share one SparkSession, each reading its
  * own tables (covered by the two-engines test in QueryEngineSpec).
  * Concurrent statements from two engines sharing a session are not
  * supported — same discipline as the reference's process-global write
  * lock (index.rs:22-26); use one SparkSession per concurrent engine.
  * Two engines over the same BASE DIR are guarded harder: the first
  * write takes an exclusive lock file (BaseDirLock), so a second live
  * writer fails fast instead of corrupting sequence assignment; close()
  * releases it for handover.
  *
  * Multi-session MVCC: `newSession()` gives independent client
  * sessions over this engine, each with its own transaction — snapshot
  * isolation with first-committer-wins conflict detection (mvcc.rs,
  * transaction_coordinator.rs; see Session). Statements across
  * sessions serialize on the engine's write-lock monitor.
  */
final class QueryEngine(val spark: SparkSession, val baseDir: String) {

  /** Per-statement span recorder — SET TRACE ON|OFF, SHOW TRACES,
    * SHOW TRACE <id> (observability.rs:1-10,323). Off by default; off
    * costs one volatile read per potential span. Declared FIRST: the
    * constructor's crash-recovery sweep runs instrumented code. */
  val tracer = new Tracer

  val catalog = new TableCatalog(spark, baseDir)

  // pk point reads over a snapshot decode on the driver (PointReads)
  PointReads.install(spark)

  /** Materialized views: every MATERIALIZED VIEW statement, the
    * auto-refresh hook and the stored-view read. */
  private[exec] val matViews = new MatViews(this)

  /** Integrity guards: every DML statement's probe set and verdict. */
  private val guards = new Guards(this)

  /** Identity for the base-dir write lock (BaseDirLock). */
  private[exec] val engineId = java.util.UUID.randomUUID().toString

  /** Release the base-dir write lock. Call when done with an engine
    * whose base dir another engine should take over. Idempotent; the
    * engine object must not be used for writes afterwards without
    * re-acquiring (which happens automatically on the next write). */
  def close(): Unit = {
    flushAudit() // the buffered audit tail lands with the lock still held
    dropAllCached() // free the result cache's executor blocks with the engine
    freeStatementPins() // and every statement-path pin
    commit.releaseWriteLock() // readiness probes 503 until a write re-opens
    // replication links die with the engine: a closed replica must not
    // linger in its primary's SHOW CLUSTER (phantom link, unbounded
    // apparent lag, and a strong reference pinning the dead engine),
    // and a closed primary unhooks from its followers symmetrically
    followsFrom.forEach((t, p) => p.followedBy.remove((t, engineId)))
    followsFrom.clear()
    followedBy.forEach((k, f) => f.followsFrom.remove(k._1, this))
    followedBy.clear()
  }

  // ------------------------------------------------------- pin registry

  /** Statement-path pins, registered for deterministic release at
    * close(). The ContextCleaner frees such blocks only after a natural
    * driver GC — which a 128 GiB-heap driver may not run across a whole
    * bench suite, so each query's DML pins stranded in the block
    * manager and inflated later heavy queries 4-18x (r9 verdict).
    * References are WEAK so a GC that does happen still lets the
    * ContextCleaner reclaim pins early; close() frees whatever
    * survives. The result cache keeps its own eviction-time release
    * instead — its pins outlive statements by design. */
  private val pinRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()

  /** Row-count cap for collecting a BOUNDED batch source to a driver
    * LocalRelation instead of pinning it. Conservative: covers the
    * shapes that matter (a global aggregate proves 1 row, a small LIMIT
    * proves its bound) while keeping worst-case driver memory trivial
    * even for wide payload rows. */
  private val LiteralizeMaxRows = 1024L

  /** Row cap for the PIN-JOB literalization, which — unlike the
    * plan-proven pre-collect path — measures the batch's actual bytes
    * inside the job and gates on GraftBridge.LiteralizeByteBudget
    * (1 MB total), so the row bound is a plan-size guard, not a memory
    * guard. 8192 rows of any literalizable schema under 1 MB embed
    * safely in a driver plan. */
  private[exec] val PinLiteralizeMaxRows = 8192L

  /** Tighter cap when the schema carries any STRING column. Row-count
    * bounds don't bound BYTES, and strings are unbounded exactly like
    * binary: `INSERT ... SELECT text ... LIMIT 1000` over multi-MB
    * document text would collect gigabytes into the driver heap and
    * embed them in the LocalRelation plan. Catalyst's non-CBO
    * `sizeInBytes` can't catch this (limit stats use schema-default
    * widths — 20 bytes per string — not data), so the guard is a row
    * bound small enough that even pathological per-row strings stay
    * driver-trivial. The floor-critical shape (1-row aggregate
    * batches from trigger/procedure bodies, string action labels
    * included) sits far under it; wider string batches take the
    * distributed pin path instead. */
  private val StringLiteralizeMaxRows = 16L

  /** Binary columns never literalize at any row count: a single
    * multimodal blob row can be arbitrarily large, and blobs belong
    * in distributed blocks, not embedded in a driver-side plan — not
    * even under the pin job's byte gate. (Strings are bounded by the
    * tighter row cap above instead — they carry SQL semantics the
    * literal fast path still wants for 1-row counter/label batches.) */
  private def literalizableSchema(df: DataFrame): Boolean =
    !df.schema.exists(f => hasType(f.dataType,
      _ == org.apache.spark.sql.types.BinaryType))

  /** The plan-proven row bound this batch may carry and still collect:
    * [[StringLiteralizeMaxRows]] when any (possibly nested) column is
    * a string, [[LiteralizeMaxRows]] for fixed-width-only schemas. */
  private def literalizeRowCap(df: DataFrame): Long =
    if (df.schema.exists(f => hasType(f.dataType,
        _ == org.apache.spark.sql.types.StringType)))
      StringLiteralizeMaxRows
    else LiteralizeMaxRows

  private def hasType(dt: org.apache.spark.sql.types.DataType,
      p: org.apache.spark.sql.types.DataType => Boolean): Boolean =
    dt match {
      case s: org.apache.spark.sql.types.StructType =>
        s.exists(f => hasType(f.dataType, p))
      case a: org.apache.spark.sql.types.ArrayType => hasType(a.elementType, p)
      case m: org.apache.spark.sql.types.MapType =>
        hasType(m.keyType, p) || hasType(m.valueType, p)
      case other => p(other)
    }

  /** Every statement-path pin goes through here: one
    * [[org.apache.spark.sql.GraftBridge.pin]] job under the `pin-batch`
    * span, its blocks registered for release at close(). `tally` folds
    * into the same job (see GraftBridge.pin).
    *
    * `literal = true` lets a small batch become a driver-resident
    * LocalRelation and ride the literal fast path — driver-side guard
    * folding, job-free sequence assignment, single-file staging:
    *   - a LocalRelation (literal VALUES) passes through untouched: its
    *     rows live on the driver, nothing in their lineage can re-read
    *     the log being appended to, their parallelize layout is
    *     deterministic (so sequence assignment is stable across the
    *     counts job and the write), and any non-deterministic
    *     expression would have blocked constant folding and left a
    *     Project above. Skipping the pin removes one materialization
    *     job from every literal INSERT;
    *   - a plan whose OPTIMIZER-PROVEN row bound (`maxRows`: global
    *     aggregate -> 1, small LIMIT -> n) is at or under
    *     [[literalizeRowCap]] collects to a LocalRelation in one job
    *     (`collect-literal`). This is THE floor under trigger/procedure
    *     bodies of the `INSERT ... SELECT <aggregate>` shape (audit
    *     counters, MAX+1 id assignment). The collect runs the source
    *     exactly once, same as the pin job it replaces;
    *   - otherwise the pin job itself carries the batch back when it
    *     proves to fit [[PinLiteralizeMaxRows]] and the 1 MB gate.
    * The first two report one count: the batch's row total. Binary
    * schemas never literalize. Streaming batches pin with `literal =
    * false`: they publish through the distributed staged write
    * regardless of size. */
  private[graft] def pinBatch(df: DataFrame, literal: Boolean = false,
      tally: org.apache.spark.sql.catalyst.InternalRow => Long =
        org.apache.spark.sql.GraftBridge.NoTally)
      : org.apache.spark.sql.GraftBridge.Pin = {
    import org.apache.spark.sql.GraftBridge.Pin
    lazy val literalizable = literal && literalizableSchema(df)
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if literal =>
        Pin(df, Array(lr.data.length.toLong), 0L, None)
      case p if literalizable && p.maxRows.exists(_ <= literalizeRowCap(df)) =>
        tracer.span("collect-literal") {
          val rows = df.collect()
          Pin(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            df.schema), Array(rows.length.toLong), 0L, None)
        }
      case _ =>
        tracer.span("pin-batch") {
          // opportunistically drop nodes whose referent a GC already
          // let the ContextCleaner reclaim — without this the queue
          // grows one node per DML statement for the engine's whole
          // life (a long-lived wire server would accumulate millions
          // of dead nodes awaiting close())
          pinRegistry.removeIf(_.get() == null)
          val p = org.apache.spark.sql.GraftBridge.pin(df, tally,
            if (literalizable) PinLiteralizeMaxRows else -1L)
          p.rdd.foreach(r => pinRegistry.add(new java.lang.ref.WeakReference(r)))
          p
        }
    }
  }

  private def freeStatementPins(): Unit = {
    var ref = pinRegistry.poll()
    while (ref != null) {
      Option(ref.get()).foreach(r =>
        scala.util.Try(r.unpersist(blocking = false)))
      ref = pinRegistry.poll()
    }
  }

  /** The commit path (write lock, transactions, publish, driver tails);
    * built after everything its crash-recovery sweep at open reads. */
  private[graft] val commit = new Commit(this)

  // ======================================================= transactions

  /** An independent client session over this engine — its own
    * transaction state, sharing the engine's storage, catalog, and
    * single-writer lock (the reference's MVCC runs one transaction per
    * connection the same way — mvcc.rs, transaction_coordinator.rs:
    * 1-441). Sessions interleave statements safely: each BEGIN gets a
    * snapshot-isolated view (repeatable reads, own writes visible) and
    * COMMIT aborts with a serialization failure when another session
    * committed a write to the same primary key first. Statements across
    * sessions serialize on the engine's write lock; sessions are not
    * for intra-statement parallelism. */
  final class Session private[QueryEngine] () {
    private[QueryEngine] var txn: Option[Commit.Txn] = None
    // security context (row_level_security.rs:130-162): row policies
    // filter reads/writes for non-superusers once a table enables RLS.
    // The default context is the superuser — engine-internal work
    // (FK probes, snapshots, matview refresh) always bypasses policies.
    private[QueryEngine] var user: String = "root"
    private[QueryEngine] var roles: Set[String] = Set.empty
    private[QueryEngine] var superuser: Boolean = true
    // the session's BASE security context — what RESET ROLE restores.
    // setAuth moves it (it establishes how the session authenticated);
    // SET ROLE never does, so a restricted session cannot escalate
    // back to the engine superuser with one statement.
    private[QueryEngine] var baseUser: String = "root"
    private[QueryEngine] var baseRoles: Set[String] = Set.empty
    private[QueryEngine] var baseSuperuser: Boolean = true
    // SET STATEMENT_TIMEOUT, per session like PG; 0 = off
    private[QueryEngine] var statementTimeoutMs: Long = 0L
    // token bucket for SET RATE_LIMIT (rate_limit/mod.rs: per-client
    // queries/sec + burst); -1 marks "not yet filled"
    private[QueryEngine] var rlTokens: Double = -1.0
    private[QueryEngine] var rlLastNs: Long = 0L
    // statement nesting (trigger/procedure bodies re-enter sqlAs): the
    // rate limiter charges only depth-1 statements, so a body can
    // never be rejected mid-statement after data already landed
    private[QueryEngine] var stmtDepth: Int = 0
    def inTransaction: Boolean = txn.isDefined
    def currentUser: String = user
    /** Switch this session's security context (SET ROLE does the same
      * from SQL; this form also carries role membership). */
    def setAuth(user: String, roles: Set[String] = Set.empty,
        superuser: Boolean = false): Unit = {
      this.user = user; this.roles = roles; this.superuser = superuser
      this.baseUser = user; this.baseRoles = roles; this.baseSuperuser = superuser
    }
    def sql(statement: String): DataFrame = sqlAs(this, statement)
    def sql(statement: String, params: Seq[Any]): DataFrame =
      sqlAs(this, graft.sql.Params.bind(statement, params))
    /** Pre-flight a privilege check under this session's context —
      * the wire server gates a COPY FROM STDIN transfer BEFORE
      * CopyInResponse, so an ungranted client is refused with zero
      * bytes transferred instead of after a multi-GiB spool. Raises
      * the same SecurityException the statement itself would. */
    def requirePrivilege(table: String, priv: String): Unit =
      asSession(this) { catalog.require(table); checkPrivilege(table, priv) }
  }

  private[exec] val defaultSession = new Session()
  // the session whose statement is currently executing — swapped only
  // by asSession, under the write lock (statements, including nested
  // trigger/procedure bodies, run single-threaded per engine)
  private var current: QueryEngine#Session = defaultSession

  /** Run `body` as session `s` under the write-lock monitor
    * (Commit.locked), with `current` swapped to `s` and restored after.
    * Reentrant like the monitor: a trigger body or an auto refresh
    * nests inside its statement. The one place `current` changes. */
  private[exec] def asSession[T](s: QueryEngine#Session)(body: => T): T =
    commit.locked {
      val prev = current
      current = s
      try body finally current = prev
    }

  /** A fresh session with independent transaction state. The engine's
    * own `sql` is the default session. */
  def newSession(): Session = new Session()

  private[exec] def txn: Option[Commit.Txn] = current.txn
  private[exec] def txn_=(v: Option[Commit.Txn]): Unit = current.txn = v

  def inTransaction: Boolean = txn.isDefined

  /** Raise for `what` inside a transaction: it changes storage that a
    * ROLLBACK could not take back, or would capture buffered writes. */
  private def outsideTxn(what: String): Unit =
    if (txn.isDefined)
      throw new IllegalStateException(s"$what cannot run inside a transaction")

  // ------------------------------------------------ cluster visibility
  // SHOW CLUSTER's data: replication links registered by
  // Replication.follow (both directions — a replica knows its
  // primaries, a primary knows its followers) and the leadership
  // lease installed by Leadership.Lease.attach. All metadata-scale;
  // probing a link reads two catalog counters, no Spark job.
  private val followsFrom =
    new java.util.concurrent.ConcurrentHashMap[String, QueryEngine]()
  private val followedBy =
    new java.util.concurrent.ConcurrentHashMap[(String, String), QueryEngine]()
  @volatile private var leaseStatus: Option[() => (Long, Long, Option[String])] =
    None

  /** Called by Replication.follow: this engine replays `table` from
    * `primary`. */
  private[graft] def registerFollow(table: String, primary: QueryEngine): Unit = {
    followsFrom.put(table, primary)
    primary.followedBy.put((table, engineId), this)
  }

  /** Called by Leadership.Lease.attach alongside the commit fence:
    * () => (lease epoch, current epoch, current leader id). */
  def setLeaseStatus(f: () => (Long, Long, Option[String])): Unit =
    leaseStatus = Some(f)

  /** SHOW CLUSTER: one row per replication link this engine is party
    * to — as replica (role `replica`, peer = the primary) and as
    * primary (role `primary`, peer = the follower engine) — with both
    * sides' sequence high-water marks and the event lag between them,
    * plus a `leadership` row when an HA lease is attached. */
  private def showCluster(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rep = followsFrom.asScala.toSeq.sortBy(_._1).map { case (t, p) =>
      val (ps, ls) = (p.catalog.lastSeq(t), catalog.lastSeq(t))
      ("replication", t, "replica", p.engineId, ls, ps, ps - ls)
    }
    val fol = followedBy.asScala.toSeq.sortBy(_._1).map { case ((t, _), r) =>
      val (ps, rs) = (catalog.lastSeq(t), r.catalog.lastSeq(t))
      ("replication", t, "primary", r.engineId, ps, rs, ps - rs)
    }
    val lead = leaseStatus.toSeq.map { f =>
      val (mine, cur, leader) = f()
      ("leadership", leader.getOrElse(""),
        if (cur == mine) "leader" else "deposed",
        s"epoch $mine of $cur", mine, cur, cur - mine)
    }
    import spark.implicits._
    (rep ++ fol ++ lead)
      .toDF("kind", "subject", "role", "peer", "local_seq", "peer_seq", "lag")
  }

  /** Health-probe snapshot (served by graft.server.HttpAdmin /health;
    * the reference's health endpoint reports the same shape,
    * driftdb-server/src/health.rs:1-272): engine liveness facts that
    * cost no Spark job — catalog size, write-lock state, and the age
    * of the last durable publish. */
  def healthSnapshot: Map[String, String] = commit.locked {
    // under the statement lock: the probe runs on HttpAdmin's
    // dispatcher thread and would otherwise iterate the catalog's
    // mutable maps mid-DDL (torn reads / CME → a healthy server 500s
    // its liveness probe). No Spark job runs here, so the hold is
    // microseconds; a probe blocking behind a long statement is the
    // intended "hung engine = hung probe" signal anyway.
    Map(
      "status" -> (if (commit.closed) "closed" else "ok"),
      "tables" -> catalog.tableNames.size.toString,
      "views" -> catalog.viewNames.size.toString,
      "write_lock_held" -> commit.writeLockHeld.toString,
      "last_publish_age_ms" ->
        (if (commit.lastPublishAtMs < 0) "-1"
         else (System.currentTimeMillis() - commit.lastPublishAtMs).toString))
  }

  // ================================================================ sql

  /** Parameterized statement: `$1 $2 ...` placeholders bound to
    * `params` as SQL literals before routing (the reference's
    * `execute_sql_with_params`, sql_bridge.rs:183-226 — ours covers
    * every statement kind, not just SELECT/CREATE). */
  def sql(statement: String, params: Seq[Any]): DataFrame =
    sql(graft.sql.Params.bind(statement, params))

  /** A `;`-separated script, statement by statement (the reference
    * CLI's script mode, driftdb-cli main.rs). Statements run in order
    * — including transaction control — and the LAST statement's result
    * is returned. Semicolons inside string literals don't split. */
  def sqlScript(script: String): DataFrame = {
    val stmts = StatementRouter.splitTopLevel(script, ';')
      .filter(s => SqlText.maskNonCode(s).trim.nonEmpty) // drop comment-only tails
    require(stmts.nonEmpty, "empty script")
    stmts.map(sql).last
  }

  /** Statement kinds that change durable state — these take the
    * base-dir write lock before running. COMMIT mutates only when the
    * transaction has buffered writes to publish. */
  private def isMutating(st: Statement): Boolean = st match {
    case _: Statement.Select | _: Statement.Explain | Statement.ShowTables |
        Statement.ShowTriggers | Statement.ShowProcedures |
        Statement.ShowSequences | Statement.ShowMatviews |
        Statement.ShowPolicies |
        _: Statement.SetRole | _: Statement.VerifyBackup |
        _: Statement.ShowBackups | Statement.ShowCluster |
        _: Statement.SetAudit | Statement.ShowAudit |
        Statement.ShowGrants | _: Statement.SetPrivileges |
        _: Statement.SetCache | Statement.ShowCache | Statement.ClearCache |
        Statement.ShowMigrations | _: Statement.SetStatementTimeout |
        Statement.ShowMetrics | _: Statement.SetSlowLog | Statement.ShowPerf |
        _: Statement.SetTrace | Statement.ShowTraces | _: Statement.ShowTrace |
        _: Statement.ShowStats | _: Statement.ShowHistogram |
        _: Statement.SetSecurityMonitor | _: Statement.SetSecurityAutoblock |
        Statement.ShowSecurityThreats | Statement.ShowSecurityStats |
        Statement.ShowSessions | Statement.ShowAlerts |
        Statement.ShowOptimizations |
        _: Statement.SetEncryptionKey | Statement.SetEncryptionOff |
        _: Statement.CopyTo | _: Statement.DiffTable |
        _: Statement.Describe | _: Statement.Analyze |
        _: Statement.CheckTable |
        Statement.Begin | _: Statement.Rollback | _: Statement.Savepoint |
        _: Statement.ReleaseSavepoint => false
    case Statement.Commit => txn.exists(t => t.pending.nonEmpty && !t.aborted)
    case _ => true
  }

  def sql(statement: String): DataFrame = sqlAs(current, statement)

  /** Run one statement in the given session's transaction context.
    * Reentrant (trigger/procedure bodies dispatch through the current
    * session); the write-lock monitor serializes sessions on different
    * threads. */
  private def sqlAs(session: QueryEngine#Session, statement: String): DataFrame =
    asSession(session) {
      session.stmtDepth += 1
      // the security monitor sees each TOP-LEVEL statement once (nested
      // trigger/procedure bodies are the statement's own work, same
      // boundary the rate limiter draws); affected-row side channel
      // resets here so a failed statement never reports its
      // predecessor's count
      val top = session.stmtDepth == 1
      if (top) lastAffected = None
      var ok = true
      try {
        val out = sqlCurrent(statement)
        if (top) {
          // the refresh's own summaries must not clobber the affected-
          // row side channel the security monitor records for THE
          // USER'S statement (mass-write exfiltration detection)
          val affected = lastAffected
          matViews.maybeAutoRefresh()
          lastAffected = affected
        }
        out
      }
      catch { case e: Throwable => ok = false; throw e }
      finally {
        if (top && security.enabled)
          security.recordStatement(session, session.user, statement, ok,
            if (ok) lastAffected else None)
        session.stmtDepth -= 1
      }
    }

  /** Security monitoring / intrusion detection over the statement and
    * authentication streams (security_monitor.rs) — the wire server
    * feeds failed logins and consults the auto-block list. */
  val security = new SecurityMonitor(() => catalog.tableNames)

  // ------------------------------------------------------ rate limiting

  /** Engine-wide statement rate limit for NON-superuser sessions
    * (superusers are exempt, the simplification of the reference's
    * superuser_multiplier — rate_limit/mod.rs:40-42). 0 = off. Each
    * session holds its own token bucket: `rateLimitQps` tokens accrue
    * per second up to `rateLimitBurst`; a statement spends one. */
  private var rateLimitQps: Double = 0.0
  private var rateLimitBurst: Double = 0.0
  /** Injectable clock (tests drive the bucket deterministically). */
  private[exec] var rateClockNs: () => Long = () => System.nanoTime()
  private var metricRateLimited = 0L

  private def checkRateLimit(s: QueryEngine#Session): Unit =
    if (rateLimitQps > 0 && !s.superuser && s.stmtDepth <= 1) {
      val now = rateClockNs()
      if (s.rlTokens < 0) { s.rlTokens = rateLimitBurst; s.rlLastNs = now }
      else {
        s.rlTokens = math.min(rateLimitBurst,
          s.rlTokens + (now - s.rlLastNs) / 1e9 * rateLimitQps)
        s.rlLastNs = now
      }
      if (s.rlTokens < 1.0) {
        metricRateLimited += 1
        throw new IllegalStateException(
          f"rate limit exceeded: $rateLimitQps%.0f statements/s " +
            f"(burst $rateLimitBurst%.0f) — retry later")
      }
      s.rlTokens -= 1.0
    }

  /** Statement body runs as a trace span when tracing is on; the
    * reentrant dispatch makes trigger/procedure statements children
    * of the statement that fired them. */
  private[exec] def sqlCurrent(statement: String): DataFrame =
    tracer.statement(statement)(sqlCurrentInner(statement))

  private def sqlCurrentInner(statement: String): DataFrame = {
    checkRateLimit(current)
    commit.healPublish()
    val parsed = tracer.span("parse")(StatementRouter.parse(statement))
    if (isMutating(parsed)) commit.ensureWriteLock()
    def run(): DataFrame = parsed match {
    case Statement.Begin => commit.begin()
    case Statement.Commit => commit.commitTxn()
    case Statement.Rollback(sp) => commit.rollbackTxn(sp)
    case Statement.Savepoint(name) => commit.savepoint(name)
    case Statement.ReleaseSavepoint(name) => commit.releaseSavepoint(name)
    // statement-level atomicity inside a transaction (Txn.statement)
    case st => txn.fold(dispatch(st))(_.statement(dispatch(st)))
    }
    // statement timeout wraps the eager work (DML, probes, writes,
    // pinned reads); a purely lazy SELECT's later actions run on the
    // caller's clock — the reference cancels eager server-side
    // execution the same way (query_cancellation.rs:200)
    def timed(): DataFrame = {
      val ms = current.statementTimeoutMs
      if (ms <= 0 || parsed.isInstanceOf[Statement.SetStatementTimeout]) run()
      else withStatementTimeout(ms)(run())
    }
    metricStatements += 1
    // auditing checks the flag from BEFORE the statement, so SET AUDIT
    // ON records everything AFTER itself (and SET AUDIT OFF is the
    // last recorded statement)
    val perfT0 = System.nanoTime()
    try {
      if (!auditEnabled) {
        try timed()
        catch { case e: Throwable => metricFailed += 1; throw e }
      } else {
        lastAffected = None
        try { val r = timed(); auditRecord(parsed, ok = true, None); r }
        catch {
          case e: Throwable =>
            metricFailed += 1
            auditRecord(parsed, ok = false, Option(e.getMessage))
            throw e
        }
      }
    } finally recordPerf(statement, (System.nanoTime() - perfT0) / 1e6)
  }

  /** Run `f` under a fresh Spark job group that a watchdog cancels
    * after `ms` — the cancelled jobs surface as SparkExceptions, which
    * map to a clear timeout error (the reference's cancel path tags
    * handles the same way, query_cancellation.rs:147-233). */
  private def withStatementTimeout[T](ms: Long)(f: => T): T = {
    val sc = spark.sparkContext
    val group = s"graft-stmt-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, s"graft statement (timeout ${ms}ms)",
      interruptOnCancel = true)
    @volatile var fired = false
    val task = new java.util.TimerTask {
      // the STICKY variant: a plain cancelJobGroup only kills jobs
      // already running, and a statement still in planning/codegen at
      // the deadline would submit its jobs AFTER the cancel and run
      // unbounded — AndFutureJobs kills those on submission too
      def run(): Unit = { fired = true; sc.cancelJobGroupAndFutureJobs(group) }
    }
    QueryEngine.timeoutTimer.schedule(task, ms)
    try f
    catch {
      case e: Throwable if fired =>
        metricTimeouts += 1
        throw new QueryEngine.StatementTimeoutException(
          s"canceling statement due to statement timeout (${ms} ms)", e)
    } finally { task.cancel(); sc.clearJobGroup() }
  }

  private def dispatch(statement: Statement): DataFrame = statement match {
    case Statement.CreateTable(name, cols, pk, fkDefs, conDefs) =>
      requirePerm("CREATE TABLE", "CREATE_TABLE")
      // reject the hidden-column namespace at declaration, where the
      // error is actionable (legacy catalogs that predate this check
      // still load; read paths fall back defensively)
      cols.foreach(c => MatViews.requireUnreserved(c._1))
      // FK declarations are validated up front: child column must be
      // declared, parent table (self-reference allowed) and parent
      // column must exist (fk.rs:44-66; inline form sql_bridge.rs:5738)
      for (fk <- fkDefs) {
        require(cols.exists(_._1 == fk.column),
          s"foreign key column not declared: ${fk.column}")
        val parentCols =
          if (fk.refTable == name) cols.map(_._1)
          else catalog.get(fk.refTable).getOrElse(throw new IllegalArgumentException(
            s"referenced table not found: ${fk.refTable}")).columns.map(_.logical)
        require(parentCols.contains(fk.refColumn),
          s"referenced column not found: ${fk.refTable}.${fk.refColumn}")
      }
      // constraint columns must be declared (constraints.rs:60-96
      // validates at registration the same way); CHECK expressions are
      // validated lazily at first enforcement (they may reference any
      // Catalyst function)
      val constraintCols = conDefs.flatMap {
        case Statement.NotNullDef(c) => Seq(c)
        case Statement.DefaultDef(c, _) => Seq(c)
        case Statement.UniqueDef(cs) => cs
        case Statement.AutoIncrementDef(c) => Seq(c)
        case _: Statement.CheckDef => Nil
      }
      for (c <- constraintCols)
        require(cols.exists(_._1 == c), s"constraint column not declared: $c")
      catalog.createTable(name, pk,
        cols.map { case (c, ddl) => (c, DataType.fromDDL(ddl)) })
      commit.forget(name)
      if (fkDefs.nonEmpty)
        catalog.setForeignKeys(name, fkDefs.map(f => (f.column, f.refTable, f.refColumn)))
      if (conDefs.nonEmpty)
        catalog.setConstraints(name, conDefs.collect {
          case Statement.NotNullDef(c) => graft.catalog.Constraint.NotNull(c)
          case Statement.DefaultDef(c, e) => graft.catalog.Constraint.Default(c, e)
          case Statement.UniqueDef(cs) => graft.catalog.Constraint.Unique(cs)
          case Statement.CheckDef(e) => graft.catalog.Constraint.Check(e)
        })
      // AUTO_INCREMENT mints a table-owned sequence named like the
      // reference's `{table}_{column}_seq` (sequences.rs:85-90)
      val autoIncCols = conDefs.collect { case Statement.AutoIncrementDef(c) => c }
      require(autoIncCols.size <= 1,
        s"at most one AUTO_INCREMENT column per table: ${autoIncCols.mkString(", ")}")
      for (c <- autoIncCols)
        catalog.createSequence(s"${name}_${c}_seq", 1L, 1L, None, None,
          cycle = false, ownedBy = Some((name, c)))
      summary("created", 0L, catalog.lastSeq(name))
    case Statement.CreateIndex(idx, table, colNames) =>
      requirePerm("CREATE INDEX", "CREATE_INDEX")
      // catalog metadata + physical effect: subsequent log/snapshot
      // writes stamp a parquet bloom filter on EVERY indexed column
      // (Commit.writeOptions) — range predicates were already served by
      // min/max pruning and pushdown (SURVEY §1.4). A composite
      // index also becomes the bare-OPTIMIZE Z-order hint.
      val t = catalog.require(table)
      for (cn <- colNames)
        if (!t.columns.exists(_.logical.equalsIgnoreCase(cn)))
          throw new IllegalArgumentException(
            s"column $cn not found in $table")
      catalog.createIndex(idx, table, colNames)
      summary("indexed", 0L, catalog.lastSeq(table))
    case Statement.DropIndex(idx, ifEx) =>
      requirePerm("DROP INDEX", "DROP_INDEX")
      catalog.dropIndex(idx, ifEx)
      summary("index_dropped", 0L, 0L)
    case Statement.CreateView(name, viewSql, materialized, orReplace) =>
      if (!materialized) {
        if (orReplace && catalog.isMaterialized(name))
          catalog.dropView(name) // matview (and its storage) replaced
        catalog.createView(name, viewSql)
        summary("view_created", 0L, 0L)
      } else matViews.create(name, viewSql, orReplace)
    case Statement.RefreshMatView(name, incremental) =>
      matViews.refresh(name, incremental)
    case Statement.CreateTrigger(name, timing, event, table, body) =>
      // UNCONDITIONAL superuser gate: a trigger body executes at fire
      // time under the FIRING session's authority — letting a
      // restricted session plant one is arbitrary-SQL escalation into
      // every other session that touches the table (PG gates trigger
      // DDL behind the TRIGGER privilege for the same reason)
      requireSuperuserAlways("CREATE TRIGGER")
      parseTriggerBody(body) // reject a malformed action at CREATE, not at first fire
      catalog.createTrigger(name, timing, event, table, body)
      summary("trigger_created", 0L, 0L)
    case Statement.DropTrigger(name, ifEx) =>
      requireSuperuserAlways("DROP TRIGGER")
      catalog.dropTrigger(name, ifEx)
      summary("trigger_dropped", 0L, 0L)
    case Statement.AlterTrigger(name, enable) =>
      requireSuperuserAlways("ALTER TRIGGER")
      catalog.setTriggerEnabled(name, enable)
      summary(if (enable) "trigger_enabled" else "trigger_disabled", 0L, 0L)
    case Statement.ShowTriggers =>
      import spark.implicits._
      catalog.triggerList
        .toDF("name", "timing", "event", "table", "body", "enabled")
    case Statement.CreateProcedure(name, params, body, orReplace) =>
      require(body.trim.nonEmpty, "procedure body is empty")
      catalog.createProcedure(name, params, body, orReplace)
      summary("procedure_created", 0L, 0L)
    case Statement.DropProcedure(name, ifEx) =>
      catalog.dropProcedure(name, ifEx)
      summary("procedure_dropped", 0L, 0L)
    case Statement.ShowProcedures =>
      import spark.implicits._
      catalog.procedureList.map { case (n, ps, b) => (n, ps.mkString(", "), b) }
        .toDF("name", "parameters", "body")
    case Statement.CreateSequence(name, start, inc, min, max, cycle) =>
      val increment = inc.getOrElse(1L)
      // PG/reference default start: 1 ascending, MAXVALUE descending
      val startV = start.getOrElse(
        if (increment > 0) min.getOrElse(1L) else max.getOrElse(-1L))
      catalog.createSequence(name, startV, increment, min, max, cycle)
      summary("sequence_created", 0L, 0L)
    case Statement.DropSequence(name, ifEx) =>
      catalog.dropSequence(name, ifEx)
      summary("sequence_dropped", 0L, 0L)
    case Statement.AlterSequenceRestart(name, withV) =>
      catalog.restartSequence(name, withV)
      summary("sequence_restarted", 0L, 0L)
    case Statement.ShowIndexes =>
      import spark.implicits._
      catalog.indexList.toDF("index", "table", "column")
    case Statement.RefreshAllMatViews(incremental) => matViews.refreshAll(incremental)
    case Statement.AlterMatviewAutoRefresh(name, on, every) =>
      matViews.alterAutoRefresh(name, on, every)
    case Statement.ShowMatviews => matViews.show()
    case Statement.ShowSequences =>
      import spark.implicits._
      catalog.sequenceList.map(s => (s.name, s.start, s.increment,
        s.minValue, s.maxValue, s.cycle, s.current,
        s.ownedBy.map(o => s"${o._1}.${o._2}")))
        .toDF("name", "start", "increment", "min_value", "max_value",
          "cycle", "last_value", "owned_by")
    case Statement.AlterTableRls(table, enable) =>
      // UNCONDITIONAL: RLS filters apply regardless of the privilege
      // gate, so a restricted session must never be able to switch
      // them off (or rewrite the policies) for itself
      requireSuperuserAlways("ALTER TABLE ... ROW LEVEL SECURITY")
      catalog.setRlsEnabled(table, enable)
      summary(if (enable) "rls_enabled" else "rls_disabled", 0L, 0L)
    case Statement.CreatePolicy(name, table, cmd, roles, permissive, usingE, checkE) =>
      requireSuperuserAlways("CREATE POLICY")
      catalog.createPolicy(graft.catalog.PolicyDef(
        name, table, cmd, roles, permissive, usingE, checkE))
      summary("policy_created", 0L, 0L)
    case Statement.DropPolicy(name, table, ifEx) =>
      requireSuperuserAlways("DROP POLICY")
      catalog.dropPolicy(table, name, ifEx)
      summary("policy_dropped", 0L, 0L)
    case Statement.ShowPolicies =>
      import spark.implicits._
      catalog.policyList.map(p => (p.name, p.table, p.command,
        if (p.roles.isEmpty) "PUBLIC" else p.roles.mkString(", "),
        if (p.permissive) "PERMISSIVE" else "RESTRICTIVE",
        p.usingExpr.getOrElse(""), p.checkExpr.getOrElse("")))
        .toDF("name", "table", "command", "roles", "kind", "using", "check")
    case Statement.SetRole(user) =>
      // SET ROLE narrows to a role the session's BASE context is a
      // member of (PG gates membership the same way); RESET ROLE
      // restores that base context — never an unconditional superuser,
      // which would let any restricted session escalate past RLS and
      // GRANT checks with one statement.
      user match {
        case Some(u) =>
          if (!current.baseSuperuser && u != current.baseUser &&
              !current.baseRoles.contains(u) &&
              // memberships store lowercased role keys — match them
              !catalog.rolesOf(current.baseUser).contains(u.toLowerCase))
            throw new SecurityException(s"permission denied to set role: $u")
          current.user = u; current.roles = Set(u); current.superuser = false
        case None =>
          current.user = current.baseUser
          current.roles = current.baseRoles
          current.superuser = current.baseSuperuser
      }
      summary("role_set", 0L, 0L)
    case Statement.Grant(privs, table, grantees) =>
      requireSuperuser("GRANT")
      catalog.grant(table, privs, grantees)
      summary("granted", 0L, 0L)
    case Statement.Revoke(privs, table, grantees) =>
      requireSuperuser("REVOKE")
      catalog.revoke(table, privs, grantees)
      summary("revoked", 0L, 0L)
    case Statement.ShowGrants =>
      import spark.implicits._
      catalog.grantList.toDF("table", "privilege", "grantee")
    case Statement.CreateRole(name, perms) =>
      requireSuperuser("CREATE ROLE")
      catalog.createRole(name, perms.toSet)
      summary("role_created", 0L, 0L)
    case Statement.DropRole(name, ifEx) =>
      requireSuperuser("DROP ROLE")
      catalog.dropRole(name, ifEx)
      summary("role_dropped", 0L, 0L)
    case Statement.GrantRole(role, users) =>
      // the reference's Admin bundle carries GrantRole but not
      // GrantPermission (rbac.rs:268-295): role membership is
      // delegable one level below superuser — EXCEPT membership in a
      // SUPERUSER-bundle role, which would let an admin self-escalate
      // past every gate with one statement (a deliberate deviation:
      // rbac.rs:381 grant_role checks only the role's existence)
      if (catalog.rolePerms(role).contains("SUPERUSER"))
        requireSuperuserAlways("GRANT ROLE (superuser bundle)")
      else requirePerm("GRANT ROLE", "GRANT_ROLE")
      users.foreach(catalog.grantRole(_, role))
      summary("role_granted", 0L, 0L)
    case Statement.RevokeRole(role, users) =>
      // symmetric: only a superuser may strip superuser membership
      if (catalog.rolePerms(role).contains("SUPERUSER"))
        requireSuperuserAlways("REVOKE ROLE (superuser bundle)")
      else requirePerm("REVOKE ROLE", "GRANT_ROLE")
      users.foreach(catalog.revokeRole(_, role))
      summary("role_revoked", 0L, 0L)
    case Statement.ShowRoles =>
      import spark.implicits._
      val members = catalog.roleMembers.groupBy(_._2)
        .view.mapValues(_.map(_._1).sorted.mkString(", ")).toMap
      catalog.roleList.map { case (r, sys, ps) =>
        (r, if (sys) "SYSTEM" else "CUSTOM",
          ps.toSeq.sorted.mkString(", "), members.getOrElse(r, ""))
      }.toDF("role", "kind", "permissions", "members")
    case Statement.SetPrivileges(on) =>
      requireSuperuser("SET PRIVILEGES")
      privilegesEnabled = on
      summary(if (on) "privileges_enabled" else "privileges_disabled", 0L, 0L)
    case Statement.SetAudit(on) =>
      // UNCONDITIONAL: a session that can silence the audit trail can
      // cover its own tracks — trail integrity must not depend on the
      // separate privilege gate being switched on
      requireSuperuserAlways("SET AUDIT")
      auditEnabled = on
      summary(if (on) "audit_enabled" else "audit_disabled", 0L, 0L)
    case Statement.ShowAudit =>
      requirePerm("SHOW AUDIT", "VIEW_AUDIT")
      showAudit()
    case Statement.BackupDb(dir, parent) =>
      // a backup copies the RAW table files — every row, regardless of
      // RLS visibility — so it is superuser-only once the gate is on
      requireSuperuser("BACKUP")
      // the audit tail flushes first so the backup carries the full
      // trail up to (excluding) the BACKUP statement itself
      flushAudit()
      // runs under the statement lock, so no publish is in flight and
      // the copied file set is a consistent committed state; staging
      // dirs and the liveness lock are excluded by the lister
      outsideTxn("BACKUP")
      // the manifest records each table's sequence high-water mark —
      // the identification data SHOW BACKUPS lists and RESTORE ... AS
      // OF @SEQ:N cuts the chain by
      val (recorded, copied) = Backup.create(spark, baseDir, dir, parent,
        tableSeqs = catalog.tableNames.map(t => t -> catalog.lastSeq(t)).toMap)
      oneRow("op" -> "backup", "files" -> recorded, "copied" -> copied,
        "path" -> dir)
    case Statement.ShowCluster =>
      requirePerm("SHOW CLUSTER", "VIEW_METRICS")
      showCluster()
    case Statement.ShowBackups(dir) =>
      requireSuperuser("SHOW BACKUPS") // paths + sizes are operator data
      import spark.implicits._
      Backup.list(spark, dir)
        .map(b => (b.path, b.parent.getOrElse(""),
          b.created.map(ms => new java.sql.Timestamp(ms)).orNull,
          b.seq, b.tables, b.files, b.copied, b.bytes))
        .toDF("path", "parent", "created", "seq", "tables", "files",
          "copied", "bytes")
    case Statement.PruneBackups(dir, keep, olderDays, dryRun) =>
      requireSuperuser("PRUNE BACKUPS") // deletes restore points
      outsideTxn("PRUNE BACKUPS")
      import spark.implicits._
      Backup.prune(spark, dir, keep,
          olderDays.map(_.toLong * 24L * 60L * 60L * 1000L), dryRun)
        .toDF("path", "action")
    case Statement.RestoreDb(dir, asOfSeq) =>
      requireSuperuser("RESTORE") // replaces the whole database
      outsideTxn("RESTORE")
      commit.ensureWriteLock() // exclusive: no other live writer during the swap
      val (restoredFrom, n) = asOfSeq match {
        case Some(seq) => Backup.restoreAsOf(spark, dir, baseDir, seq)
        case None => (dir, Backup.restore(spark, dir, baseDir))
      }
      catalog.reload()
      commit.clear()
      // the audit trail is database state: the restore swapped its
      // files, so the unflushed tail is void and ids re-prime from the
      // restored log (the RESTORE record itself lands after, re-primed)
      auditBuf.clear()
      auditNextId = None
      oneRow("op" -> "restore", "files" -> n, "path" -> restoredFrom)
    case Statement.VerifyBackup(dir) =>
      val (checked, bad) = Backup.verify(spark, dir)
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"backup verification failed (${bad.size}/${checked}): " +
            bad.take(3).mkString("; "))
      oneRow("op" -> "verify", "files" -> checked, "status" -> "ok")
    case Statement.Call(name, args) => callProcedure(name, args)
    case Statement.DropTable(name, ifEx) =>
      // destructive DDL under the gate; the admin bundle carries
      // DropTable (rbac.rs:268)
      requirePerm("DROP TABLE", "DROP_TABLE")
      // dropping a table with buffered writes would orphan them, and the
      // storage delete cannot be rolled back — keep DROP out of txns
      outsideTxn("DROP TABLE")
      // RESTRICT, like FK deletes: dropping a parent would leave child
      // FKs pointing at a vanished table (a dangling-registry state the
      // reference tolerates — fk.rs:68-71 forgets only the child side)
      if (catalog.get(name).isDefined) {
        val children = catalog.referencingFks(name).collect {
          case (child, c, _) if child != name => s"$child.$c"
        }
        if (children.nonEmpty)
          throw new IllegalStateException(
            s"cannot drop $name: referenced by ${children.mkString(", ")}")
      }
      catalog.dropTable(name, ifEx)
      commit.forget(name) // a recreated table starts fresh
      summary("dropped", 0L, 0L)
    case Statement.DropView(name, ifEx) =>
      catalog.dropView(name, ifEx)
      summary("dropped", 0L, 0L)
    // TRUNCATE routes through delete(), which already enforces the
    // DELETE privilege and removes only RLS-visible rows
    case Statement.Truncate(table) =>
      // TRUNCATE is its own permission class (PG does the same): full
      // DML rights do not include emptying a shared table wholesale.
      // The DELETE privilege check inside delete() still applies too.
      requirePerm("TRUNCATE", "TRUNCATE")
      truncate(table)
    case Statement.AlterAdd(table, c, ddl) =>
      requirePerm("ALTER TABLE", "ALTER_TABLE")
      MatViews.requireUnreserved(c)
      catalog.addColumn(table, c, DataType.fromDDL(ddl))
      summary("altered", 0L, catalog.lastSeq(table))
    case Statement.AlterRename(table, from, to) =>
      requirePerm("ALTER TABLE", "ALTER_TABLE")
      MatViews.requireUnreserved(to)
      catalog.renameColumn(table, from, to)
      summary("altered", 0L, catalog.lastSeq(table))
    case Statement.AlterDrop(table, c) =>
      requirePerm("ALTER TABLE", "ALTER_TABLE")
      catalog.dropColumn(table, c)
      summary("altered", 0L, catalog.lastSeq(table))
    case Statement.InsertValues(table, cols, valuesSql) =>
      insertFrom(table, cols, boundFrame(
        s"SELECT * FROM ${rewriteSequenceCalls(valuesSql)}", SystemTime.Current))
    case Statement.InsertSelect(table, cols, sel) =>
      // a textual rewrite would draw ONCE for all N source rows; the
      // per-row shape is an AUTO_INCREMENT column (block-reserved,
      // distributed) — fail clearly instead of silently mis-assigning
      if (mentionsSequenceCall(sel))
        throw new IllegalArgumentException(
          "nextval/currval in INSERT ... SELECT draws once per statement, " +
            "not per row — use an AUTO_INCREMENT column instead")
      // the source's row order becomes per-row sequence assignment, so
      // every table read inside it must pin the keyed plan (the same
      // invariant update/delete hold): a flat-certified source would
      // otherwise serve log-file order bare but windowed order inside
      // a transaction with buffered writes on it. The scope flag covers
      // arbitrarily nested source reads; plan choice happens at build
      // time, and statements are monitor-serialized, so a var suffices.
      val src = {
        dmlReadScope = true
        try select(sel) finally dmlReadScope = false
      }
      insertFrom(table, cols, src)
    case Statement.Update(table, assigns, where) => update(table, assigns, where)
    case Statement.Delete(table, where) => delete(table, where)
    case Statement.Snapshot(table) =>
      requirePerm("SNAPSHOT", "CREATE_SNAPSHOT")
      snapshot(table)
    case Statement.Optimize(table, zcols) =>
      // a bare OPTIMIZE adopts the composite index declaration as its
      // Z-order hint: the operator already said which columns arrive
      // together in point probes
      optimize(table,
        if (zcols.nonEmpty) zcols else catalog.compositeIndexColumns(table))
    case Statement.VacuumRetain(table, retainSeq) =>
      outsideTxn("VACUUM RETAIN")
      vacuumRetain(table, retainSeq)
    case Statement.DiffTable(table, a, b) => diff(table, a, b)
    case Statement.Explain(inner, analyze, format) => explain(inner, analyze, format)
    case Statement.Analyze(table) => analyze(table)
    case Statement.CheckTable(table, full) => checkTable(table, full)
    case Statement.RepairTable(table) => repairTable(table)
    case Statement.ShowTables => showTables()
    case Statement.ShowCreateTable(table) => showCreateTable(table)
    case Statement.Describe(table) => describe(table)
    case Statement.CopyFrom(table, path, format) =>
      ingestFile(table, path, format.getOrElse(inferCopyFormat(path)))
    case Statement.CopyTo(source, path, format, zorderBy) =>
      // through select(): RLS filters and the SELECT privilege apply,
      // and both a bare table name and a (subquery) work
      val inner =
        if (source.startsWith("(")) source.substring(1, source.length - 1)
        else s"SELECT * FROM $source"
      val selected = select(inner)
      // ZORDER (c1, ...): cluster the export layout so the CONSUMER's
      // filtered scans skip row groups on every listed column — the
      // shape a training-data shard hand-off wants
      val df =
        if (zorderBy.isEmpty) selected
        else {
          val missing = zorderBy.filterNot(z =>
            selected.columns.exists(_.equalsIgnoreCase(z)))
          require(missing.isEmpty,
            s"ZORDER column(s) not in the exported result: ${missing.mkString(", ")}")
          // ZOrder.cluster re-reads its input (count + one boundary
          // sample per column + the write) — pin the governed select
          // once so an expensive export query never runs 3-4x; the
          // OPTIMIZE path gets the same for free by reading its
          // materialized checkpoint
          graft.operators.ZOrder.cluster(pinBatch(selected).df, zorderBy,
            spark.sessionState.conf.numShufflePartitions)
        }
      try {
        val w = commit.encrypted(df.write).mode("overwrite")
        format.getOrElse(inferCopyFormat(path)) match {
          case "jsonl" | "json" => w.json(path)
          case "parquet" => w.parquet(path)
          case "csv" => w.option("header", "true").csv(path)
          case other => throw new IllegalArgumentException(
            s"unsupported COPY format: $other (JSONL | PARQUET | CSV)")
        }
      } finally if (zorderBy.nonEmpty) unpersistPinned(df)
      oneRow("op" -> "export", "path" -> path)
    case Statement.SetCache(on) =>
      cacheEnabled = on
      if (!on) { dropAllCached(); cacheHits = 0L; cacheMisses = 0L }
      summary(if (on) "cache_enabled" else "cache_disabled", 0L, 0L)
    case Statement.ShowCache =>
      oneRow("enabled" -> cacheEnabled,
        "entries" -> resultCache.size().toLong, "hits" -> cacheHits,
        "misses" -> cacheMisses)
    case Statement.ClearCache =>
      dropAllCached()
      summary("cache_cleared", 0L, 0L)
    case Statement.SetStatementTimeout(ms) =>
      current.statementTimeoutMs = ms
      summary("timeout_set", ms, 0L)
    case Statement.ShowMetrics =>
      requirePerm("SHOW METRICS", "VIEW_METRICS")
      showMetrics()
    case Statement.ShowStorage(t) => showStorage(t)
    case Statement.ShowStats(t) => showStats(t)
    case Statement.ShowHistogram(t, c) => showHistogram(t, c)
    case Statement.SetSecurityMonitor(on) =>
      // like SET AUDIT: a session that can silence the monitor can hide
      // its own traces — unconditionally superuser-only
      requireSuperuserAlways("SET SECURITY_MONITOR")
      security.enabled = on
      summary(if (on) "security_enabled" else "security_disabled", 0L, 0L)
    case Statement.SetSecurityAutoblock(on) =>
      requireSuperuserAlways("SET SECURITY_AUTOBLOCK")
      security.autoBlock = on
      summary(if (on) "autoblock_enabled" else "autoblock_disabled", 0L, 0L)
    case Statement.ShowSecurityThreats =>
      requireSuperuser("SHOW SECURITY THREATS")
      import spark.implicits._
      security.threatRows.toDF("threat_id", "threat_type", "severity",
        "source", "user", "signal")
    case Statement.ShowSecurityStats =>
      requireSuperuser("SHOW SECURITY STATS")
      import spark.implicits._
      security.statRows.toDF("stat", "value")
    case Statement.ShowSessions =>
      requireSuperuser("SHOW SESSIONS")
      import spark.implicits._
      security.sessionRows.toDF("session_id", "user", "statements",
        "failed", "rows_accessed", "tables_accessed", "risk_score")
    case Statement.CreateAlert(name, metric, op, threshold, severity) =>
      // an alerting control, like SET AUDIT: always superuser-only
      requireSuperuserAlways("CREATE ALERT")
      createAlert(name, metric, op, threshold, severity)
    case Statement.DropAlert(name, ifExists) =>
      requireSuperuserAlways("DROP ALERT")
      val existed = catalog.dropAlert(name)
      alertFired.remove(name)
      alertState.remove(name) // history keeps the dropped rule's past
      if (!existed && !ifExists)
        throw new IllegalArgumentException(s"no alert named $name")
      summary("drop_alert", if (existed) 1L else 0L, 0L)
    case Statement.ShowAlerts =>
      requireSuperuser("SHOW ALERTS")
      showAlerts()
    case Statement.ShowOptimizations =>
      requirePerm("SHOW OPTIMIZATIONS", "VIEW_METRICS")
      import spark.implicits._
      optimizationSuggestions().toDF("category", "priority", "suggestion")
    case Statement.SetSlowLog(ms) =>
      slowLogThresholdMs = ms
      if (ms == 0) slowLog.clear()
      summary("slow_log_set", ms, 0L)
    case Statement.ShowPerf =>
      requirePerm("SHOW PERF", "VIEW_METRICS")
      showPerf()
    case Statement.SetTrace(on) =>
      tracer.enabled = on
      if (!on) tracer.clear()
      summary(if (on) "trace_enabled" else "trace_disabled", 0L, 0L)
    case Statement.ShowTraces =>
      requirePerm("SHOW TRACES", "VIEW_METRICS")
      import spark.implicits._
      tracer.traces.map(t => (t.traceId, t.statement, t.totalMs,
        t.spans.size.toLong))
        .toDF("trace_id", "statement", "total_ms", "spans")
    case Statement.ShowTrace(id) =>
      requirePerm("SHOW TRACE", "VIEW_METRICS")
      import spark.implicits._
      val tr = tracer.spansOf(id).getOrElse(throw new IllegalArgumentException(
        s"no trace $id (SHOW TRACES lists recorded ids; tracing keeps " +
          "the newest 64)"))
      tr.spans.map(s => (s.traceId, s.spanId, s.parentId, s.name,
        s.detail, s.startMs, s.durMs, s.ok))
        .toDF("trace_id", "span_id", "parent_span_id", "name", "detail",
          "start_ms", "dur_ms", "ok")
    case Statement.SetRateLimit(qps, burst) =>
      // a protection control, like SET AUDIT: active regardless of the
      // privilege gate, so only superusers may move it
      requireSuperuserAlways("SET RATE_LIMIT")
      rateLimitQps = qps.getOrElse(0.0)
      rateLimitBurst = qps.fold(0.0)(q =>
        burst.map(_.toDouble).getOrElse(math.max(1.0, q)))
      summary(if (qps.isDefined) "rate_limit_set" else "rate_limit_off",
        0L, rateLimitBurst.toLong)
    case Statement.SetEncryptionKey(b64) =>
      // unconditional (not just when the privilege gate is on): the key
      // registry is process-wide — a restricted session re-keying it
      // would break every other engine's encrypted reads in this JVM
      if (!current.superuser)
        throw new SecurityException(
          "permission denied: SET ENCRYPTION KEY requires superuser")
      val key = try java.util.Base64.getDecoder.decode(b64)
        catch { case _: IllegalArgumentException =>
          throw new IllegalArgumentException("encryption key is not valid base64") }
      Encryption.register(Encryption.MasterKeyId, key)
      // activates PME on the session for BOTH write and read — already-
      // encrypted files become readable the moment the key registers
      Encryption.HadoopConf.foreach { case (k, v) =>
        spark.sparkContext.hadoopConfiguration.set(k, v) }
      commit.encryptionOn = true
      summary("encryption_enabled", 0L, 0L)
    case Statement.SetEncryptionOff =>
      if (!current.superuser)
        throw new SecurityException(
          "permission denied: SET ENCRYPTION requires superuser")
      // stop encrypting NEW writes; leave the factory + key registered
      // so existing encrypted files stay readable
      commit.encryptionOn = false
      summary("encryption_disabled", 0L, 0L)
    case Statement.CreateMigration(ver, up, down) =>
      require(up.trim.nonEmpty, "migration UP script is empty")
      catalog.createMigration(ver, up, down)
      summary("migration_created", 0L, 0L)
    case Statement.Migrate =>
      // migrations run DDL (non-transactional) — same rule as DDL itself
      outsideTxn("MIGRATE")
      val pending = catalog.migrationList.filter(!_._4)
      // apply in version order; a failing migration stops the chain
      // with everything before it applied (migration.rs:489-530
      // migrate_all applies one at a time the same way)
      for ((ver, up, _, _) <- pending) {
        sqlScript(up)
        catalog.markMigrationApplied(ver, applied = true)
      }
      summary("migrated", pending.size.toLong, 0L)
    case Statement.RollbackMigration =>
      outsideTxn("ROLLBACK MIGRATION")
      val applied = catalog.migrationList.filter(_._4)
      if (applied.isEmpty)
        throw new IllegalStateException("no applied migration to roll back")
      val (ver, _, down, _) = applied.last // newest by version order
      val script = down.getOrElse(throw new IllegalStateException(
        s"migration $ver has no DOWN script"))
      sqlScript(script)
      catalog.markMigrationApplied(ver, applied = false)
      summary("migration_rolled_back", 1L, 0L)
    case Statement.ShowMigrations =>
      import spark.implicits._
      catalog.migrationList
        .map { case (v, _, down, applied) => (v, applied, down.isDefined) }
        .toDF("version", "applied", "has_down")
    case Statement.Select(q) => cachedSelect(q)
    case Statement.Begin | Statement.Commit | _: Statement.Rollback |
        _: Statement.Savepoint | _: Statement.ReleaseSavepoint =>
      throw new IllegalStateException("unreachable: txn control is handled in sql()")
  }

  // ========================================================== read path

  def select(sqlText: String): DataFrame = {
    val (clean, st) = TemporalPre.extract(sqlText)
    val out = boundFrame(clean, st)
    // engine-side exchange sizing (round 18 — the SCALE.md harness
    // finding moved into the engine): a SELECT over a 1000×-scale
    // table must not inherit a fixture-sized shuffle-partition count;
    // size AQE's initial partition number from the bytes this
    // statement actually scans (4× covers typical join/agg exchange
    // expansion; explode-heavy operators size their own call sites).
    // Raise-only and driver-side — zero Spark jobs, and the optimized
    // plan it forces is the one execution reuses.
    graft.ShuffleSizing.ensureForScan(out, expansion = 4.0)
    out
  }

  /** A query text's Dataset, its engine names bound at `st`. */
  private def boundFrame(text: String, st: SystemTime): DataFrame =
    GraftBridge.frameOf(spark, bind(parsePlan(text), st,
      scala.collection.mutable.Map.empty))

  private def parsePlan(text: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(text)

  /** A user expression of a DML statement (UPDATE/DELETE `WHERE`,
    * UPDATE `SET`, a trigger's `WHEN`): its subqueries read current
    * state through the same binding as a SELECT, privilege checks and
    * row policies included. */
  private def boundExpr(text: String): Column = {
    val memo = scala.collection.mutable.Map.empty[(String, SystemTime), LogicalPlan]
    GraftBridge.column(spark.sessionState.sqlParser.parseExpression(text)
      .transform { case s: SubqueryExpression =>
        s.withNewPlan(bind(s.plan, SystemTime.Current, memo))
      })
  }

  /** A trigger firing's transition rows, by lower-case name
    * (`new_rows`, `old_rows`): bound for the body like a table, after
    * the catalog's names. fireTriggers sets them one firing at a time
    * and restores an enclosing firing's on the way out. */
  private var transitionRows = Map.empty[String, DataFrame]

  /** What a plan's name refers to in the engine: a table, a stored view,
    * a materialized view or a firing's transition rows, matched
    * case-insensitively (an exact match first). None leaves the name to
    * Spark (attached fixtures, the pg_* views). */
  private def lookupName(name: String): Option[QueryEngine.Ref] = {
    def find(names: Iterable[String]) =
      names.find(_ == name).orElse(names.find(_.equalsIgnoreCase(name)))
    import QueryEngine.Ref._
    find(catalog.tableNames).map(Table)
      .orElse(find(catalog.viewNames).map(v =>
        if (catalog.isMaterialized(v)) MatView(v) else View(v)))
      .orElse(find(transitionRows.keys).map(Transition))
  }

  /** Bind the engine's names in a parsed plan at system time `st`. A
    * table becomes its state at `st` (`resolve`: the SELECT privilege
    * and row policies apply), a materialized view its stored rows, and
    * a stored view its own text, bound recursively at its effective
    * spec: its own FOR SYSTEM_TIME if it names one, else the spec of
    * whatever reads it (the reference threads the statement spec
    * through expansion the same way, sql_bridge.rs:309-320,
    * 1203-1259). Each reference binds on its own, so a view pinned to
    * one time and a statement reading the same table at another never
    * share a binding. `memo` keeps one state plan per (table, spec) in a
    * statement: resolving AS OF a timestamp runs a bounds job. */
  private def bind(plan: LogicalPlan, st: SystemTime,
      memo: scala.collection.mutable.Map[(String, SystemTime), LogicalPlan],
      depth: Int = 0): LogicalPlan = {
    if (depth > 10)
      throw new IllegalStateException("view expansion depth > 10 (cycle?)")
    QueryEngine.mapRelations(plan) { (name, parts) =>
      import QueryEngine.Ref._
      lookupName(name).map { ref =>
        SubqueryAlias(parts, ref match {
          case Table(t) =>
            memo.getOrElseUpdate((t, st), resolve(t, st).queryExecution.analyzed)
          case MatView(v) =>
            // a matview is a snapshot of its last REFRESH — it has no
            // event history to travel; serving current data under an
            // explicit temporal spec would be silently wrong, so raise
            if (depth == 0 && st != SystemTime.Current)
              throw new IllegalArgumentException(
                s"materialized view $v is not temporal: FOR SYSTEM_TIME does not apply to it")
            matViews.stored(v).queryExecution.analyzed
          case View(v) =>
            val (text, vSt) = TemporalPre.extract(catalog.getView(v).get)
            bind(parsePlan(text), if (vSt == SystemTime.Current) st else vSt,
              memo, depth + 1)
          case Transition(n) => transitionRows(n).queryExecution.analyzed
        })
      }
    }
  }

  /** Every catalog object `text` reads, stored views expanded (each
    * view, then what it reads). None when the text does not parse or
    * nests views deeper than `bind` expands them. */
  private def readsOf(text: String, depth: Int = 0): Option[Seq[QueryEngine.Ref]] =
    if (depth > 10) None
    else scala.util.Try(parsePlan(TemporalPre.extract(text)._1)).toOption.flatMap { p =>
      val direct = QueryEngine.relationNames(p).flatMap(lookupName)
      direct.foldLeft(Option(direct)) {
        case (acc, QueryEngine.Ref.View(v)) =>
          for (a <- acc; sub <- readsOf(catalog.getView(v).get, depth + 1)) yield a ++ sub
        case (acc, _) => acc
      }
    }

  /** A table at a point in (system) time, with logical column names.
    * Row policies filter here — the user-facing read surface (select()
    * and view expansion resolve through this); engine-internal reads
    * (FK probes, snapshots, conflict detection) call stateAt directly
    * and stay unfiltered, like PG's RLS-exempt integrity checks. */
  def resolve(table: String, st: SystemTime): DataFrame = {
    val t = catalog.require(table)
    checkPrivilege(table, "SELECT")
    val frame = st match {
      case SystemTime.Current => stateAt(table, None)
      case SystemTime.AsOfSeq(s) => stateAt(table, Some(s))
      case SystemTime.AsOfTs(ts) =>
        val maxSeq = events(t)
          .where(col("ts") <= to_timestamp(lit(ts)))
          .agg(max("sequence")).head()
        if (maxSeq.isNullAt(0)) stateAt(table, Some(-1L))
        else stateAt(table, Some(maxSeq.getLong(0)))
      case SystemTime.All =>
        // same raise-don't-truncate contract as AS OF and BETWEEN: a
        // vacuum physically deleted events at/below the floor, and the
        // at-floor snapshot is state, not an event feed — ALL cannot
        // reconstruct the full history any more
        val floor =
          if (t.attached.isDefined) 0L else catalog.retentionFloor(t.name)
        if (floor > 0)
          throw new IllegalStateException(
            s"FOR SYSTEM_TIME ALL on $table: events at or below the " +
              s"retention floor $floor were vacuumed — full history is " +
              s"gone; use FOR SYSTEM_TIME BETWEEN ${floor + 1} AND <end>")
        frameWithLogicalPayload(t, StateView.history(events(t)))
      case SystemTime.Between(a, b) =>
        val floor =
          if (t.attached.isDefined) 0L else catalog.retentionFloor(t.name)
        // state AT the floor survives via the snapshot, but the floor's
        // EVENTS are vacuumed — an event-range read needs start > floor
        if (floor > 0 && a <= floor)
          throw new IllegalStateException(
            s"BETWEEN start $a is at or below the retention floor $floor " +
              s"of $table — those events were vacuumed")
        frameWithLogicalPayload(t, StateView.changesBetween(events(t), a, b))
    }
    rlsFilter(table, "SELECT").fold(frame)(frame.where)
  }

  /** Flatten an event frame to (sequence, ts, event_type, pk, cols...)
    * with logical column names — the FOR SYSTEM_TIME ALL row shape
    * (Query::ShowDrift, query/executor.rs:327-354). */
  private def frameWithLogicalPayload(t: TableDef, frame: DataFrame): DataFrame = {
    val have = frame.schema("payload").dataType
      .asInstanceOf[StructType].fieldNames.toSet
    frame.select(
      Seq(col("sequence"), col("ts"), col("event_type"), col("pk")) ++
        t.columns.map(c =>
          (if (have(c.physical)) col(s"payload.${c.physical}")
           else lit(null).cast(c.dataType)).as(c.logical)): _*)
  }

  /** Raw event log of a table: attached in-memory frame, or the
    * persisted parquet log (mergeSchema absorbs payload-struct widening
    * from ALTER ADD COLUMN), plus any event batches buffered by an open
    * transaction (read-your-writes — the reference reads through its
    * txn write set too, transaction.rs). Missing/empty log → empty
    * typed frame. */
  def events(t: TableDef): DataFrame = {
    val base0 = baseEvents(t)
    txn.fold(base0) { tx =>
      // snapshot isolation: inside a transaction the durable log reads
      // at the sequence pinned at this table's first access — writes
      // other sessions commit later stay invisible until our COMMIT
      // (mvcc.rs snapshot reads). Attached frames are immutable inputs
      // and need no horizon.
      val base = if (t.attached.isDefined) base0
        else base0.where(col("sequence") <= lit(tx.horizon(t.name)))
      // buffered events are read back SHIFTED by the same offset COMMIT
      // will apply — if a concurrent direct append (streaming ingest)
      // took the buffered batch's provisional sequences, mid-txn reads
      // must not show two events on one sequence or an AS OF view that
      // contradicts post-commit history
      val off = tx.offset(t.name)
      tx.pending.iterator.collect { case (n, ev, _) if n == t.name => ev }
        .foldLeft(base)((acc, ev) =>
          acc.unionByName(Commit.shift(ev, off), allowMissingColumns = true))
    }
  }

  /** The durable event log only — no transaction buffer, no snapshot
    * horizon. COMMIT's conflict probe reads this directly.
    *
    * The read uses the CATALOG's event schema, not schema merging: the
    * catalog is the source of truth for the payload struct, parquet
    * resolves its fields by (physical) name, and a field absent from an
    * older file reads as NULL — exactly the ALTER ADD/DROP semantics.
    * mergeSchema would spend a Spark job collecting every log file's
    * footer on every statement's state read, and at 100 TB that footer
    * sweep is itself a full metadata scan. */
  private[exec] def baseEvents(t: TableDef): DataFrame =
    t.attached.getOrElse {
      val p = new Path(catalog.logPath(t.name))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // tagged with the pk like a snapshot scan, so a pk point read of
      // the log decodes its candidate row groups on the driver
      if (fs.exists(p))
        spark.read.schema(EventLog.schema(t.payloadSchema))
          .option(Snapshots.PkOption, t.pkPhysical).parquet(p.toString)
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          EventLog.schema(t.payloadSchema))
    }

  /** State at a sequence, snapshot-accelerated: replay starts from the
    * nearest checkpoint <= target instead of sequence 0
    * (optimizer.rs:296-307). */
  def stateAt(table: String, asOf: Option[Long]): DataFrame =
    stateAt(table, asOf, dmlRead = false)

  /** `dmlRead = true` marks a state read whose ROW ORDER becomes event
    * order (UPDATE/DELETE matching batches — their PATCH/SOFT_DELETE
    * frames are sequence-assigned in read order, and trigger bodies
    * insert from the same frames). Those reads pin the keyed-collapse
    * plan in every mode: the flat/checkpoint fast paths serve log-file
    * row order, a transaction's buffered-union read serves window
    * order, and the same statement must emit identically-sequenced
    * events whether it runs bare or inside BEGIN..COMMIT. Pure reads
    * (SELECT, probe joins, registry lookups) keep the fast paths, and
    * so does a matched batch the flat plan folds to at most one row
    * (`matchedBatch`): one row has one order. */
  /** While true, every stateAt read pins the keyed plan — set around
    * the building of an INSERT ... SELECT source, whose row order
    * becomes event order (see the dmlRead scaladoc). Statements are
    * monitor-serialized, so a plain var is safe. */
  private[exec] var dmlReadScope = false

  private[graft] def stateAt(table: String, asOf: Option[Long],
      dmlRead: Boolean): DataFrame =
    // plan construction only (the read itself is lazy) — a span here
    // shows which statements replan state and which hit the fast paths
    tracer.span("state-plan", asOf.fold(table)(a => s"$table@$a"))(
      stateAtInner(table, asOf, dmlRead))

  private def stateAtInner(table: String, asOf: Option[Long],
      dmlRead: Boolean): DataFrame = {
    val t = catalog.require(table)
    // below the retention floor the events are physically gone
    // (VACUUM RETAIN) — raise instead of silently collapsing a prefix
    // that no longer exists
    val floor = if (t.attached.isDefined) 0L else catalog.retentionFloor(t.name)
    for (a <- asOf if a < floor)
      throw new IllegalStateException(
        s"AS OF sequence $a is below the retention floor $floor of " +
          s"$table — the events were vacuumed")
    // the log scan (a file listing) only when the read needs it
    lazy val ev = events(t)
    // inside a transaction the checkpoint choice is bounded by the
    // snapshot horizon too — an auto-snapshot another session took
    // AFTER our snapshot would otherwise leak its post-snapshot events
    // into our collapsed read (ev is horizon-capped, so the tail could
    // not subtract them back out)
    val snapCap = txn.collect {
      case tx if t.attached.isEmpty => tx.horizon(t.name)
    }
    val bound = (asOf, snapCap) match {
      case (Some(a), Some(c)) => Some(math.min(a, c))
      case _ => asOf.orElse(snapCap)
    }
    val base = Snapshots.nearest(spark, catalog.snapshotPath(table), bound)
    def snapshotScan(snapSeq: Long): DataFrame =
      Snapshots.read(spark, catalog.snapshotPath(table), snapSeq,
        Some(EventLog.schema(t.payloadSchema)), pk = Some(t.pkPhysical))
    def payloadFlat(df: DataFrame): DataFrame = {
      val fields = df.schema("payload").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toIndexedSeq
      df.select(fields.map(f => col(s"payload.`$f`").as(f)): _*)
    }
    val collapsed = commit.tailAbove(t, base, asOf, dmlRead) match {
      // the read is the snapshot (if any) plus tail events the driver
      // holds: fold them on the driver and serve a FLAT plan with no
      // window and no exchange (see StateView.overTail). With an empty
      // tail this is the bare checkpoint scan; with no snapshot it is a
      // LocalRelation and runs no job.
      case Some(rows) =>
        StateView.overTail(spark, base.map(snapshotScan), rows,
          t.payloadSchema, t.pkPhysical)
      // otherwise the log slice after the snapshot is read from storage
      case None =>
        // flat-log certificate: the live log holds only INSERT events
        // with distinct pks (every landed batch was probe- or
        // construction-certified), so the keyed collapse is an identity
        // — serve the log (or snapshot + log slice) as a FLAT scan with
        // no window exchange. At 100 TB this is THE read path for
        // append-only fact tables: filters and column pruning reach the
        // parquet scan directly, at any AS OF bound, snapshot or not.
        // Also valid inside a transaction while the table has no
        // buffered writes: events(t) is already horizon-capped, and a
        // first-access read sees exactly the bare log
        val ordered = dmlRead || dmlReadScope
        val flat = !ordered &&
          t.attached.isEmpty && catalog.isFlatLog(t.name) &&
          txn.forall(tx => !tx.pending.exists(_._1 == t.name))
        // else the keyed collapse: the pk output column IS the window
        // partition attribute, so pk predicates push below the collapse
        // to the scans, and a pk point read folds on the driver
        // (PointReads) — an ordered one only when it folds to one row
        base match {
          case Some(snapSeq) =>
            val tail = asOf.fold(ev.where(col("sequence") > snapSeq))(s =>
              ev.where(col("sequence") > snapSeq && col("sequence") <= s))
            val union = snapshotScan(snapSeq)
              .unionByName(tail, allowMissingColumns = true)
            // flat: snapshot pks (collapsed state at snapSeq) and tail
            // pks (all new inserts) are disjoint by the certificate, so
            // the union IS the state
            if (flat) payloadFlat(union)
            else StateView.stateAtKeyed(union, None, t.pkPhysical, ordered)
          case None if flat =>
            payloadFlat(asOf.fold(ev)(s => ev.where(col("sequence") <= s)))
          case None => StateView.stateAtKeyed(ev, asOf, t.pkPhysical, ordered)
        }
    }
    // column mapping: physical payload fields -> logical names; a
    // column added by ALTER before any event carries it reads as NULL
    val have = collapsed.columns.toSet
    collapsed.select(t.columns.map(c =>
      (if (have(c.physical)) col(c.physical)
       else lit(null).cast(c.dataType)).as(c.logical)): _*)
  }

  // ========================================================= write path

  /** Append one pinned batch of payload rows (logical columns) as
    * `eventType` events — the one write path of INSERT, COPY, UPDATE
    * and DELETE: the guard verdict is built here, and Commit.write
    * sequences the batch, then buffers or publishes it. Returns (events
    * appended, last assigned sequence). The caller pins the batch
    * (`pinBatch`) and passes the pin's layout as `pinnedCounts`, so the
    * probes read blocks and sequencing runs no job. `pkChecked` says
    * the probes establish pk uniqueness: only such an INSERT keeps the
    * table's flat-log certificate and may seed a first-load snapshot. */
  private def append(t: TableDef, rowsLogical: DataFrame, eventType: String,
      pkChecked: Boolean = false,
      probes: () => Seq[DataFrame] = Guards.NoProbes,
      pinnedCounts: Option[Array[Long]] = None): (Long, Long) =
    // the guard verdict (Guards.verdict) runs beside the staging write
    // and is joined at the publish's commit point; a fork still
    // unjoined when the scope exits is cancelled and awaited, never
    // left running Spark jobs with no consumer
    Par.scope(spark.sparkContext) { par =>
      // the physical batch decides literal-ness once, for the probes and
      // for sequencing: a pin's layout says distributed; otherwise one
      // optimization of the plan sequencing runs anyway
      val physical = commit.physicalPayload(t, rowsLogical)
      val literal = pinnedCounts.isEmpty && isLiteral(physical)
      val verdict = guards.verdict(par, probes, literal)
      verdict.outranks {
        // the flat-log certificate survives this batch only when it is
        // an INSERT whose pk uniqueness the guard probes established
        // (INSERT VALUES/SELECT). COPY skips the pk probes, so it
        // revokes; PATCH/SOFT_DELETE always revoke.
        val out = commit.write(t, physical, literal, eventType, pinnedCounts,
          keepsFlat = eventType == EventLog.INSERT && pkChecked, verdict)
        // an empty batch never publishes, but its probes still gate the
        // statement; the join handle is idempotent, so a second call
        // after the publish path already consumed it is free
        verdict()
        out
      }
    }

  /** An empty driver-resident frame of `schema`: a LocalRelation, so
    * PropagateEmptyRelation erases what reads it, and analysis against
    * it never runs a job. */
  private[exec] def emptyFrame(schema: StructType): DataFrame =
    GraftBridge.localFrame(spark, schema, Nil)

  /** True when the batch's rows live on the driver: its optimized plan
    * is a LocalRelation (literal VALUES, a literalized pin). */
  private[exec] def isLiteral(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  // ---------------------------------------------------- sequence calls

  private val SeqCallR = """(?i)\b(nextval|currval)\s*\(\s*'(\w+)'\s*\)""".r

  private def mentionsSequenceCall(sqlText: String): Boolean = {
    val lower = sqlText.toLowerCase
    (lower.contains("nextval") || lower.contains("currval")) && {
      val code = SqlText.codeMask(sqlText)
      SeqCallR.findAllMatchIn(sqlText).exists(m => code(m.start))
    }
  }

  /** Replace `nextval('s')` / `currval('s')` at code positions with
    * drawn literals, left to right — each textual occurrence is one
    * draw, so a multi-row VALUES list draws per row. Draws are
    * non-transactional (they survive ROLLBACK — PG semantics, and the
    * reference's SequenceManager sits outside transaction state the
    * same way). Statement-level, not row-level: a nextval over an
    * N-row FROM draws once (per-row assignment is what AUTO_INCREMENT
    * columns are for — block reservation, distributed assign). */
  private def rewriteSequenceCalls(sqlText: String): String = {
    val lower = sqlText.toLowerCase
    if (!lower.contains("nextval") && !lower.contains("currval")) return sqlText
    val code = SqlText.codeMask(sqlText)
    val sb = new StringBuilder
    var last = 0
    for (m <- SeqCallR.findAllMatchIn(sqlText)) if (code(m.start)) {
      sb.append(sqlText.substring(last, m.start))
      val v =
        if (m.group(1).equalsIgnoreCase("nextval")) {
          commit.ensureWriteLock() // a draw persists catalog state
          catalog.nextval(m.group(2))
        } else catalog.currval(m.group(2))
      sb.append(s"CAST($v AS BIGINT)")
      last = m.end
    }
    if (last == 0) sqlText
    else { sb.append(sqlText.substring(last)); sb.toString }
  }

  private[exec] def summary(op: String, n: Long, lastSeq: Long): DataFrame = {
    lastAffected = Some(n) // side channel for the audit record
    oneRow("op" -> op, "n_affected" -> n, "last_sequence" -> lastSeq)
  }

  /** A one-row result frame of non-null literal columns (DML summaries,
    * utility results) as a LocalRelation: collecting it — the PG server
    * reads every DML statement's n_affected — runs no Spark job and
    * compiles no code. Column types are those `lit` gives the values. */
  private def oneRow(cols: (String, Any)*): DataFrame = {
    val lits = cols.map { case (_, v) =>
      org.apache.spark.sql.catalyst.expressions.Literal(v) }
    GraftBridge.localFrame(spark,
      StructType(cols.zip(lits).map { case ((n, _), l) =>
        StructField(n, l.dataType, nullable = false) }),
      Seq(InternalRow.fromSeq(lits.map(_.value))))
  }

  // ============================================================ audit

  /** Statement auditing (audit.rs:14-60 AuditSystem/AuditConfig,
    * :247 log_event, :504 query_logs). Records land in a driver-side
    * buffer and flush to immutable JSONL part files under
    * `<baseDir>/audit/` — named by their id range so re-priming after
    * reopen is a listing, not a scan. The buffer batches like the
    * reference's channel (a crash loses at most the unflushed tail);
    * SHOW AUDIT and close() force a flush. */
  private var auditEnabled = false
  private var lastAffected: Option[Long] = None
  private var auditNextId: Option[Long] = None // primed lazily from disk
  private val auditBuf =
    scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Option[Long], Boolean, Option[String])]
  private val AuditFlushEvery = 64
  private def auditDir = new Path(s"$baseDir/audit")

  private def auditFs =
    auditDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // the engine-id suffix keeps a concurrent auditor (e.g. a read-only
  // engine auditing its SELECTs) from clobbering another's part file;
  // id ranges still prime from the names alone
  private val AuditFileR = """audit-(\d+)-(\d+)(?:-[0-9a-f-]+)?\.jsonl""".r

  private def primeAuditId(): Long = auditNextId.getOrElse {
    val fs = auditFs
    val next =
      if (!fs.exists(auditDir)) 1L
      else fs.listStatus(auditDir).toSeq.map(_.getPath.getName).collect {
        case AuditFileR(_, end) => end.toLong
      }.foldLeft(0L)(math.max) + 1L
    auditNextId = Some(next)
    next
  }

  private def auditRecord(st: Statement, ok: Boolean, err: Option[String]): Unit = {
    val (action, obj) = auditActionOf(st)
    val id = primeAuditId()
    auditNextId = Some(id + 1)
    auditBuf += ((id, current.user, action, obj,
      if (ok) lastAffected else None, ok, err))
    if (auditBuf.size >= AuditFlushEvery) flushAudit()
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def flushAudit(): Unit = if (auditBuf.nonEmpty) {
    val fs = auditFs
    if (!fs.exists(auditDir)) fs.mkdirs(auditDir)
    val (lo, hi) = (auditBuf.head._1, auditBuf.last._1)
    val lines = auditBuf.iterator.map {
      case (id, user, action, obj, n, ok, err) =>
        s"""{"audit_id":$id,"user":${jstr(user)},"action":${jstr(action)},""" +
          s""""object":${jstr(obj)},"n_affected":${n.fold("null")(_.toString)},""" +
          s""""ok":$ok,"error":${err.fold("null")(jstr)}}"""
    }.mkString("", "\n", "\n")
    val out = fs.create(
      new Path(auditDir, f"audit-$lo%012d-$hi%012d-${engineId.take(8)}.jsonl"), true)
    try out.write(lines.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    auditBuf.clear()
  }

  private def auditSchema = StructType.fromDDL(
    "audit_id LONG, user STRING, action STRING, object STRING, " +
      "n_affected LONG, ok BOOLEAN, error STRING")

  private def showAudit(): DataFrame = {
    flushAudit()
    val fs = auditFs
    val onDisk =
      if (fs.exists(auditDir))
        spark.read.schema(auditSchema).json(auditDir.toString)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], auditSchema)
    onDisk.select("audit_id", "user", "action", "object", "n_affected", "ok",
      "error").orderBy("audit_id")
  }

  private def auditActionOf(st: Statement): (String, String) = st match {
    case _: Statement.Select => ("SELECT", "")
    case Statement.InsertValues(t, _, _) => ("INSERT", t)
    case Statement.InsertSelect(t, _, _) => ("INSERT", t)
    case Statement.Update(t, _, _) => ("UPDATE", t)
    case Statement.Delete(t, _) => ("DELETE", t)
    case Statement.Truncate(t) => ("TRUNCATE", t)
    case Statement.CreateTable(n, _, _, _, _) => ("CREATE TABLE", n)
    case Statement.DropTable(n, _) => ("DROP TABLE", n)
    case Statement.CreateView(n, _, m, _) =>
      (if (m) "CREATE MATERIALIZED VIEW" else "CREATE VIEW", n)
    case Statement.DropView(n, _) => ("DROP VIEW", n)
    case Statement.RefreshMatView(n, _) => ("REFRESH MATERIALIZED VIEW", n)
    case Statement.CreateIndex(_, t, _) => ("CREATE INDEX", t)
    case _: Statement.AlterAdd | _: Statement.AlterRename |
        _: Statement.AlterDrop =>
      ("ALTER TABLE", st match {
        case Statement.AlterAdd(t, _, _) => t
        case Statement.AlterRename(t, _, _) => t
        case Statement.AlterDrop(t, _) => t
        case _ => ""
      })
    case Statement.AlterTableRls(t, _) => ("ALTER TABLE", t)
    case Statement.CreatePolicy(n, t, _, _, _, _, _) => ("CREATE POLICY", s"$t.$n")
    case Statement.DropPolicy(n, t, _) => ("DROP POLICY", s"$t.$n")
    case Statement.CreateTrigger(n, _, _, _, _) => ("CREATE TRIGGER", n)
    case Statement.DropTrigger(n, _) => ("DROP TRIGGER", n)
    case Statement.CreateProcedure(n, _, _, _) => ("CREATE PROCEDURE", n)
    case Statement.DropProcedure(n, _) => ("DROP PROCEDURE", n)
    case Statement.Call(n, _) => ("CALL", n)
    case Statement.CreateSequence(n, _, _, _, _, _) => ("CREATE SEQUENCE", n)
    case Statement.DropSequence(n, _) => ("DROP SEQUENCE", n)
    case Statement.Snapshot(t) => ("SNAPSHOT", t)
    case Statement.Optimize(t, _) => ("OPTIMIZE", t)
    case Statement.Analyze(t) => ("ANALYZE", t)
    case Statement.CheckTable(t, _) => ("CHECK", t)
    case Statement.RepairTable(t) => ("REPAIR", t)
    case Statement.CopyFrom(t, _, _) => ("COPY", t)
    case Statement.CopyTo(_, p, _, _) => ("COPY TO", p)
    case Statement.Begin => ("BEGIN", "")
    case Statement.Commit => ("COMMIT", "")
    case _: Statement.Rollback => ("ROLLBACK", "")
    case _: Statement.Savepoint => ("SAVEPOINT", "")
    case _: Statement.ReleaseSavepoint => ("RELEASE", "")
    case Statement.BackupDb(d, _) => ("BACKUP", d)
    case Statement.RestoreDb(d, _) => ("RESTORE", d)
    case _: Statement.SetRole => ("SET ROLE", "")
    case Statement.Grant(_, t, _) => ("GRANT", t)
    case Statement.Revoke(_, t, _) => ("REVOKE", t)
    case Statement.CreateRole(r, _) => ("CREATE ROLE", r)
    case Statement.DropRole(r, _) => ("DROP ROLE", r)
    case Statement.GrantRole(r, _) => ("GRANT ROLE", r)
    case Statement.RevokeRole(r, _) => ("REVOKE ROLE", r)
    case Statement.DiffTable(t, _, _) => ("DIFF", t)
    case Statement.CreateMigration(v, _, _) => ("CREATE MIGRATION", v)
    case Statement.Migrate => ("MIGRATE", "")
    case Statement.RollbackMigration => ("ROLLBACK MIGRATION", "")
    case other =>
      (other.getClass.getSimpleName.stripSuffix("$").toUpperCase, "")
  }

  // ============================================ triggers + procedures

  /** Nesting guard shared by trigger firing and procedure calls — a
    * trigger whose body writes the table it watches (or procedures
    * calling each other) must terminate (the reference caps the same
    * recursion in its execution context, triggers.rs:338-380). */
  private var callDepth = 0
  private val MaxCallDepth = 8

  private def withCallDepth[T](what: String)(f: => T): T = {
    if (callDepth >= MaxCallDepth)
      throw new IllegalStateException(
        s"$what nesting depth exceeds $MaxCallDepth (recursive trigger/procedure?)")
    callDepth += 1
    try f finally callDepth -= 1
  }

  /** Index of the `)` matching the `(` at `open`, paren-counting only
    * at code positions (literals/comments skipped), or -1. */
  private def matchingParen(s: String, open: Int): Int = {
    val code = SqlText.codeMask(s)
    var depth = 0
    var i = open
    while (i < s.length) {
      if (code(i)) s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  private val TriggerForEach = """(?is)^FOR\s+EACH\s+(?:ROW|STATEMENT)\s+(.*)$""".r
  private val TriggerWhenHead = """(?is)^WHEN\s*\(.*""".r
  private val TriggerExec = """(?is)^EXECUTE\s+(.+)$""".r
  private val TriggerExecProc = """(?is)^PROCEDURE\s+(\w+\s*\(.*\))\s*$""".r

  /** Trigger action grammar (validated at CREATE TRIGGER):
    *
    *   [FOR EACH ROW | FOR EACH STATEMENT] [WHEN (cond)] EXECUTE <stmt>
    *
    * An empty body registers without firing (catalog parity for
    * reference DDL scripts). `EXECUTE PROCEDURE p(args)` — the PG
    * spelling the reference's CallProcedure action mirrors
    * (triggers.rs:506-530) — runs as `CALL p(args)`; any other
    * statement runs as-is. Returns (WHEN predicate, statement).
    *
    * Both FOR EACH forms parse but firing is always set-based — ONE
    * body execution per statement with the whole affected batch
    * exposed as a view, never a per-row loop (the reference iterates
    * rows, triggers.rs:383-420; at 100 TB a row loop is the scale
    * killer, so the batch IS the row set here). */
  private[graft] def parseTriggerBody(body: String): Option[(Option[String], String)] = {
    val b0 = body.trim
    if (b0.isEmpty) return None
    val b1 = b0 match { case TriggerForEach(rest) => rest.trim; case _ => b0 }
    val (cond, b2) =
      if (TriggerWhenHead.matches(b1)) {
        val open = b1.indexOf('(')
        val close = matchingParen(b1, open)
        if (close < 0)
          throw new IllegalArgumentException(s"unbalanced WHEN clause: $body")
        (Some(b1.substring(open + 1, close).trim), b1.substring(close + 1).trim)
      } else (None, b1)
    b2 match {
      case TriggerExec(stmt) =>
        val s = stmt.trim
        Some((cond, s match {
          case TriggerExecProc(call) => s"CALL $call"
          case _ => s
        }))
      case _ => throw new IllegalArgumentException(
        "trigger body must be [FOR EACH ROW|STATEMENT] [WHEN (cond)] " +
          s"EXECUTE <statement>: $body")
    }
  }

  /** Fire the enabled (table, event, timing) triggers, in creation
    * order. Set-based firing (the SQL Server inserted/deleted shape):
    * the affected batch binds as `new_rows` (INSERT/UPDATE) and
    * `old_rows` (UPDATE/DELETE) for the body statement —
    * one execution per statement, scale-independent of row count. A
    * WHEN predicate filters the PRIMARY frame (new rows; old for
    * DELETE): the body sees only matching rows and is skipped when
    * none match; without WHEN the body always runs, like a PG
    * statement-level trigger. Body failures propagate — a BEFORE
    * trigger raising vetoes the DML (triggers.rs:383-420 propagates
    * errors the same way); an AFTER failure outside a transaction
    * surfaces after the batch is durable (wrap DML + triggers in
    * BEGIN/COMMIT for all-or-nothing). */
  private def fireTriggers(table: String, event: String, timing: String,
      oldRows: Option[DataFrame], newRows: Option[DataFrame]): Unit = {
    val trgs = catalog.triggersFor(table, event, timing)
    if (trgs.isEmpty) return
    withCallDepth("trigger") {
      // an enclosing firing (nested DML) holds its own transition rows:
      // they come back after this firing instead of vanishing mid-body
      val saved = transitionRows
      try {
        for ((trgName, body) <- trgs; (cond, stmt) <- parseTriggerBody(body)) {
          val primary = if (event == "DELETE") oldRows.get else newRows.get
          val filtered = cond.fold(primary)(c => primary.where(boundExpr(c)))
          val fire = cond.isEmpty || filtered.limit(1).count() > 0
          if (fire) {
            // per trigger: each body sees its own WHEN-filtered rows
            transitionRows =
              (if (event == "DELETE") Map("old_rows" -> filtered)
               else Map("new_rows" -> filtered) ++ oldRows.map("old_rows" -> _))
            try {
              val res = this.sql(stmt)
              // DML executes eagerly inside sql(); a SELECT body (the
              // RAISE_ERROR-guard shape) is lazy — force the COMPILED
              // plan so its effect, or its veto, lands NOW (a plain
              // count() would let column pruning drop the very
              // raise_error projection being fired)
              if (StatementRouter.parse(stmt).isInstanceOf[Statement.Select]) {
                res.queryExecution.executedPlan.execute().count(); ()
              }
            } catch {
              case e: Throwable => throw new IllegalStateException(
                s"trigger $trgName failed: ${e.getMessage}", e)
            }
          }
        }
      } finally transitionRows = saved
    }
  }

  /** CALL name(args): evaluate the constant argument expressions (one
    * driver-local row), re-render each value as a properly escaped
    * literal, bind `$param` references in the body, run it as a
    * script, return the last statement's result (procedures.rs:533-630
    * — execute_procedure binds typed values the same way; rendering
    * through Params.render keeps value semantics, never text
    * splicing). */
  private def callProcedure(name: String, args: Seq[String]): DataFrame = {
    val (params, body) = catalog.getProcedure(name).getOrElse(
      throw new IllegalArgumentException(s"procedure not found: $name"))
    require(args.length == params.length,
      s"procedure $name expects ${params.length} argument(s), got ${args.length}")
    withCallDepth("procedure") {
      val bound =
        if (params.isEmpty) body
        else {
          val row = spark.sql(args.mkString("SELECT ", ", ", "")).head()
          val rendered = params.indices.map(i => graft.sql.Params.render(row.get(i)))
          graft.sql.Params.bindNamed(body, params, rendered)
        }
      val stmts = StatementRouter.splitTopLevel(bound, ';')
        .filter(s => SqlText.maskNonCode(s).trim.nonEmpty)
      require(stmts.nonEmpty, s"procedure $name has an empty body")
      stmts.map(sql).last
    }
  }

  // ------------------------------------------------------- constraints

  /** DEFAULT expressions of a table, by column (constraints.rs:9-35). */
  private def defaultsOf(table: String): Map[String, String] =
    catalog.constraintsOf(table).collect {
      case graft.catalog.Constraint.Default(c, e) => c -> e
    }.toMap

  // =========================================================== metrics

  /** Engine counters (monitoring.rs:81-246 — the deterministic slice
    * of its DatabaseMetrics/QueryMetrics; wall-clock histograms are
    * deliberately absent so SHOW METRICS stays oracle-checkable). */
  private var metricStatements = 0L
  private var metricFailed = 0L
  private var metricTimeouts = 0L

  // ==================================================== wall-clock perf

  /** Per-statement wall-time histogram + slow-statement log
    * (monitoring.rs:81-246 query_latency_tracker / slow query log).
    * Kept OUT of SHOW METRICS so the oracled metrics feed stays
    * deterministic; SHOW PERF is the explicitly wall-clock slice. A
    * lazy SELECT records its planning + any eager guard work — later
    * actions run on the caller's clock, same boundary the statement
    * timeout draws. */
  private val perfBoundsMs = Vector(1L, 10L, 100L, 1000L, 10000L)
  private val perfBucketLabels =
    Vector("lt_1ms", "1_10ms", "10_100ms", "100ms_1s", "1_10s", "ge_10s")
  private val perfBuckets = new Array[Long](perfBoundsMs.length + 1)
  private var perfCount = 0L
  private var perfTotalMs = 0.0
  private var perfMaxMs = 0.0
  private var slowLogThresholdMs = 0L
  private val slowLog =
    scala.collection.mutable.ArrayDeque.empty[(Long, String, Double)]
  private var slowLogNextId = 1L
  private val SlowLogMax = 100
  // sliding window of recent latencies for exact percentiles over the
  // window (the reference's PercentileTracker, monitoring.rs:95) —
  // bounded, so SHOW PERF never scans unbounded history
  private val PerfWindow = 1024
  private val perfRecent = new Array[Double](PerfWindow)
  private var perfRecentN = 0L

  private def recordPerf(statement: String, ms: Double): Unit = {
    perfCount += 1; perfTotalMs += ms; perfMaxMs = math.max(perfMaxMs, ms)
    val i = perfBoundsMs.indexWhere(ms < _)
    perfBuckets(if (i < 0) perfBoundsMs.length else i) += 1
    perfRecent((perfRecentN % PerfWindow).toInt) = ms
    perfRecentN += 1
    if (slowLogThresholdMs > 0 && ms >= slowLogThresholdMs) {
      slowLog.append((slowLogNextId, statement.trim.take(500), ms))
      slowLogNextId += 1
      if (slowLog.size > SlowLogMax) slowLog.removeHead() // bounded ring
    }
  }

  /** Exact percentile over the sliding latency window (nearest-rank). */
  private def perfPercentile(p: Double): Double = {
    val n = math.min(perfRecentN, PerfWindow.toLong).toInt
    if (n == 0) 0.0
    else {
      val sorted = perfRecent.take(n).sorted
      sorted(math.min(n - 1, math.ceil(p * n).toInt - 1).max(0))
    }
  }

  private def showPerf(): DataFrame = {
    import spark.implicits._
    val hist = perfBucketLabels.zip(perfBuckets.toSeq)
      .map { case (l, n) => ("bucket", l, n.toDouble, null: String) }
    val summary = Seq(
      ("summary", "statements", perfCount.toDouble, null: String),
      ("summary", "total_ms", perfTotalMs, null: String),
      ("summary", "max_ms", perfMaxMs, null: String),
      ("summary", "p50_ms", perfPercentile(0.50), null: String),
      ("summary", "p95_ms", perfPercentile(0.95), null: String),
      ("summary", "p99_ms", perfPercentile(0.99), null: String),
      ("summary", "slow_threshold_ms", slowLogThresholdMs.toDouble, null: String),
      ("summary", "rate_limited", metricRateLimited.toDouble, null: String))
    val slow = slowLog.toSeq.map { case (id, st, ms) =>
      ("slow", s"stmt_$id", ms, st) }
    (hist ++ summary ++ slow).toDF("kind", "item", "value", "statement")
  }

  /** SHOW STORAGE [FOR t]: per-table physical footprint — log and
    * snapshot file counts/bytes, checkpoint sequences, retention
    * floor, last sequence. The ops answer to "what would VACUUM or
    * OPTIMIZE actually reclaim". Metadata-only: one recursive listing
    * per table, no data read — O(#files) driver work, the same cost
    * class as the reopen sweep, acceptable for an explicit admin
    * command (never on a query path). */
  private def showStorage(table: Option[String]): DataFrame = {
    import spark.implicits._
    val names = table.map(t => Seq(catalog.require(t).name))
      .getOrElse(catalog.tableNames)
    val rows = names.filter(n => catalog.get(n).exists(_.attached.isEmpty)).map { n =>
      def du(dir: String): (Long, Long) = {
        val p = new Path(dir)
        val dfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!dfs.exists(p)) (0L, 0L)
        else {
          val it = dfs.listFiles(p, true)
          var files = 0L
          var bytes = 0L
          while (it.hasNext) {
            val f = it.next()
            if (!f.getPath.getName.startsWith("_")) { files += 1; bytes += f.getLen }
          }
          (files, bytes)
        }
      }
      val (lf, lb) = du(catalog.logPath(n))
      val (sf, sb) = du(catalog.snapshotPath(n))
      val snaps = Snapshots.available(spark, catalog.snapshotPath(n))
      (n, lf, lb, sf, sb, snaps.size.toLong, snaps.lastOption,
        catalog.retentionFloor(n), catalog.lastSeq(n))
    }
    rows.toDF("table", "log_files", "log_bytes", "snapshot_files",
      "snapshot_bytes", "snapshots", "newest_snapshot_seq",
      "retention_floor", "last_sequence")
  }

  /** The deterministic metric feed — SHOW METRICS rows, and the value
    * source alert rules evaluate against. */
  private def metricValues: Seq[(String, Long)] = Seq(
    ("autorefresh_failed", matViews.autoRefreshFailed),
    ("autorefresh_runs", matViews.autoRefreshRuns),
    ("cache_hits", cacheHits),
    ("cache_misses", cacheMisses),
    ("events_total", catalog.tableNames.map(catalog.lastSeq).sum),
    ("snapshots_taken", commit.snapshotsTaken),
    ("statements_failed", metricFailed),
    ("statements_timed_out", metricTimeouts),
    ("statements_total", metricStatements),
    ("tables", catalog.tableNames.size.toLong),
    ("txn_commits", commit.txnCommits),
    ("txn_rollbacks", commit.txnRollbacks),
    ("views", catalog.viewNames.size.toLong))

  private def showMetrics(): DataFrame = {
    import spark.implicits._
    metricValues.toDF("metric", "value")
  }

  // ========================================================== alerting

  /** Threshold alert rules over the deterministic metric feed
    * (alerting.rs:134-166 AlertRule; :216-380 AlertManager + default
    * rules). RULES persist with the catalog (configured once, govern
    * every later session); firing state is per-engine, like the
    * reference's in-memory AlertManager. Pull-based: SHOW ALERTS
    * evaluates every rule against the CURRENT metric values — no
    * background evaluator thread, no wall-clock state, so the whole
    * surface is reproducible and oracle-checkable. State machine per
    * rule (alerting.rs AlertState): PENDING until the condition first
    * holds, FIRING while it holds, RESOLVED after it stops. */
  private val alertFired = scala.collection.mutable.HashSet.empty[String]
  // state-transition history (alert_routes.rs get_alert_history):
  // (ordinal, alert, from, to), newest last, bounded ring. Ordinals
  // are a per-engine monotonic counter, not a clock — the whole
  // alerting surface stays deterministic and replayable.
  private val alertState = scala.collection.mutable.HashMap.empty[String, String]
  private val alertHistory =
    scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
  private var alertHistSeq = 0L
  private val AlertHistoryMax = 256

  // the HTTP sidecar calls these OUTSIDE a statement, so they take
  // the statement monitor themselves (reentrant for SQL-path callers)
  // — a wire session's SHOW ALERTS must not mutate the ring mid-copy
  private[graft] def alertTransitions: Seq[(Long, String, String, String)] =
    commit.locked { alertHistory.toSeq }

  private[graft] def alertRules: Seq[graft.catalog.AlertDef] =
    commit.locked { catalog.alertList.sortBy(_.name) }

  private def createAlert(name: String, metric: String, op: String,
      threshold: Double, severity: String): DataFrame = {
    require(metricValues.exists(_._1 == metric),
      s"unknown metric: $metric (SHOW METRICS lists the valid names)")
    catalog.createAlert(
      graft.catalog.AlertDef(name, metric, op, threshold, severity))
    summary("create_alert", 1L, 0L)
  }

  private def showAlerts(): DataFrame = {
    import spark.implicits._
    val vals = metricValues.toMap
    val rows = catalog.alertList.map { a =>
      val v = vals(a.metric)
      val firing = a.op match {
        case ">" => v > a.threshold
        case ">=" => v >= a.threshold
        case "<" => v < a.threshold
        case "<=" => v <= a.threshold
        case _ => v.toDouble == a.threshold
      }
      if (firing) alertFired += a.name
      val state =
        if (firing) "FIRING"
        else if (alertFired(a.name)) "RESOLVED" else "PENDING"
      val prev = alertState.getOrElse(a.name, "PENDING")
      if (state != prev) {
        alertHistSeq += 1
        alertHistory += ((alertHistSeq, a.name, prev, state))
        if (alertHistory.length > AlertHistoryMax)
          alertHistory.remove(0, alertHistory.length - AlertHistoryMax)
        alertState(a.name) = state
      }
      (a.name, a.severity, state, a.metric, v, a.threshold)
    }.sortBy(_._1)
    rows.toDF("alert", "severity", "state", "metric", "value", "threshold")
  }

  /** Engine-derived optimization suggestions (performance_routes.rs
    * get_optimization_suggestions — theirs inspects slow queries, heap
    * and pool stats; ours adds the signals only this engine has:
    * snapshot replay lag and flat-log certificates). Each row is
    * (category, priority, suggestion), computed from catalog METADATA
    * and in-memory counters only — no data scan, so the endpoint is
    * always cheap to poll. */
  private[graft] def optimizationSuggestions(): Seq[(String, String, String)] = commit.locked {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val slow = slowLog.toSeq
    if (slow.nonEmpty)
      out += (("query_performance", "high",
        s"${slow.length} statements exceeded the slow-log threshold " +
          f"(max ${slow.map(_._3).max}%.1f ms) - inspect SHOW PERF's slow " +
          "log; point lookups want an index (CREATE INDEX stamps " +
          "bloom filters), repeated reads want SET RESULT_CACHE ON"))
    // replay bound: a mutation-heavy table with a long unsnapshotted
    // tail pays a keyed collapse over that tail on every read
    for (t <- catalog.tableNames
        if catalog.get(t).exists(_.attached.isEmpty) && !catalog.isFlatLog(t)) {
      val lag = catalog.lastSeq(t) - commit.lastSnapshot(t)
      // advise even with auto-snapshotting DISABLED — that is the one
      // configuration where the lag can actually run unbounded
      val lagThreshold =
        if (commit.autoSnapshotEvery > 0) commit.autoSnapshotEvery / 2 else 50000L
      if (lag > lagThreshold)
        out += (("storage", "medium",
          s"table $t has $lag unsnapshotted events and no flat-log " +
            s"certificate - SNAPSHOT $t bounds every read's collapse replay"))
    }
    val lookups = cacheHits + cacheMisses
    if (lookups >= 20 && cacheHits * 2 < lookups)
      out += (("caching", "medium",
        f"result-cache hit rate ${cacheHits * 100.0 / lookups}%.0f%% over " +
          s"$lookups lookups - mostly-unique statements; parameterize " +
          "repeated query shapes so versions key-match"))
    val rt = Runtime.getRuntime
    val heapUsed = rt.totalMemory() - rt.freeMemory()
    if (heapUsed > rt.maxMemory() * 3 / 4)
      out += (("memory", "medium",
        s"driver heap ${heapUsed >> 20} MB of ${rt.maxMemory() >> 20} MB - " +
          "lower SET STATEMENT_TIMEOUT, bound COPY TO exports, or raise " +
          "driver memory"))
    if (out.isEmpty)
      out += (("general", "low",
        "no pressing optimizations - snapshot lag, slow log, cache hit " +
          "rate and heap are all within bounds"))
    out.toSeq
  }

  // ====================================================== result cache

  /** Query result cache (cache.rs:75-300). The reference caches by
    * (query, database, user) with a TTL and pattern invalidation; a
    * version-keyed cache is strictly stronger and needs no clock: the
    * key embeds every transitively referenced table's (lastSeq, schema
    * fingerprint), matview versions, the session user, and a security
    * fingerprint (policies/grants/gates) — any DML, ALTER, REFRESH, or
    * policy change produces a different key, so staleness is
    * impossible and old entries simply age out of the LRU. Results pin
    * through `pinBatch` (executor block storage, not driver heap),
    * capped by entry count and row count; a result that is already
    * driver-resident (a LocalRelation) caches as it is. Statements that
    * are nondeterministic, draw sequences, or run inside a transaction
    * (snapshot horizons differ) never cache — the reference's
    * should_cache gate (cache.rs:132-165) makes the same calls. */
  private var cacheEnabled = false
  private var cacheHits = 0L
  private var cacheMisses = 0L
  private val CacheMaxEntries = 32
  private val CacheMaxRows = 100000L
  private val resultCache =
    new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean = {
        val evict = size() > CacheMaxEntries
        // the evicted entry's pinned blocks live in executor
        // storage until explicitly freed — without this they leak until
        // GC happens to collect the RDD
        if (evict) unpersistPinned(e.getValue)
        evict
      }
    }

  /** Free the executor blocks a cached (pinned) result holds. The
    * persisted RDD sits behind the plan's leaf; unpersist
    * is async and best-effort — a caller still holding the evicted
    * handle loses it, which is the LRU contract. */
  private def unpersistPinned(df: DataFrame): Unit = graft.Pins.free(df)

  private def dropAllCached(): Unit = {
    resultCache.values().forEach(unpersistPinned(_))
    resultCache.clear()
  }

  private val NonDeterministicR =
    ("""(?i)\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id|""" +
      """now|unix_timestamp|input_file_name)\s*\(|""" +
      """(?i)\bcurrent_(timestamp|date|timezone)\b""").r

  private def nonDeterministic(text: String): Boolean =
    NonDeterministicR.findFirstIn(SqlText.maskNonCode(text)).isDefined

  /** Version vector of every catalog object the text reads (through
    * stored views), or None when the statement must not be cached. */
  private def referencedVersions(text: String): Option[String] =
    if (nonDeterministic(text)) None
    else readsOf(text).flatMap { refs =>
      import QueryEngine.Ref._
      val parts = refs.distinct.map {
        case Table(t) => Some(s"t:$t=${catalog.lastSeq(t)}/${catalog.require(t).columns.hashCode}")
        case MatView(m) => Some(s"m:$m=${catalog.mviewVersion(m)}")
        case View(v) => Some(catalog.getView(v).get)
          .filterNot(nonDeterministic).map(q => s"v:$v=${q.hashCode}")
        case Transition(_) => None // a firing's rows have no version
      }
      Option.when(parts.forall(_.isDefined))(parts.flatten.sorted.mkString(";"))
    }

  private def cacheKeyFor(text: String): Option[String] = {
    if (!cacheEnabled || txn.isDefined || mentionsSequenceCall(text)) return None
    // the SESSION portion must carry everything RLS/grants filter on:
    // two sessions sharing a user name but holding different roles (or
    // one superuser, one not) see different rows and must never share
    // an entry. The length prefix keeps the key unambiguous with
    // visible separators (the text itself may contain any character).
    val s = current
    // EFFECTIVE roles (carried + catalog memberships): two sessions
    // sharing carried roles but differing in GRANT role TO user rows
    // must never share an entry; the roleList hash invalidates when a
    // bundle's permission set itself changes
    val session =
      s"|u=${s.user}|r=${effectiveRoles(s).toSeq.sorted.mkString(",")}" +
        s"|su=${isSuperuser(s)}|"
    referencedVersions(text).map(v =>
      s"${text.trim.length}:" + text.trim + session + v +
        s"|sec:${catalog.policyList.hashCode}:${catalog.grantList.hashCode}" +
        s":${catalog.roleList.hashCode}:$privilegesEnabled:$rlsRelevant")
  }

  // RLS enable/disable flips don't advance any sequence — fold the
  // enabled-set into the security fingerprint
  private def rlsRelevant: String =
    catalog.tableNames.filter(catalog.isRlsEnabled).mkString(",")

  private def cachedSelect(q: String): DataFrame = cacheKeyFor(q) match {
    case None => select(rewriteSequenceCalls(q))
    case Some(key) =>
      Option(resultCache.get(key)) match {
        case Some(df) => cacheHits += 1; df
        case None =>
          cacheMisses += 1
          val df = select(q)
          // a driver-resident result (a point read) caches as it is;
          // anything else pins in one job that also counts its rows, and
          // registers with the statement pins, so close() frees an
          // over-cap result the cache does not keep
          if (isLiteral(df)) { resultCache.put(key, df); df }
          else {
            val p = pinBatch(df)
            if (p.counts.sum <= CacheMaxRows) resultCache.put(key, p.df)
            p.df
          }
      }
  }

  // ------------------------------------------------- table privileges

  /** Privilege-check gate (the reference's AuthConfig.enabled,
    * auth.rs:134-160): off by default — every session can do
    * everything, as before; once ON, non-superuser sessions need a
    * GRANT for each DML action on engine tables (attached fixtures and
    * temp analytics frames are not governed). */
  private var privilegesEnabled = false

  /** The session's effective role set: roles carried at setAuth plus
    * catalog-granted memberships (GRANT role TO user) — the rbac.rs
    * get_user_roles union (rbac.rs:417-429). */
  private def effectiveRoles(s: QueryEngine#Session): Set[String] =
    s.roles ++ catalog.rolesOf(s.user)

  /** True when some effective role's bundle carries `perm` — bundles
    * are database-wide like the reference's Permission set, and the
    * SUPERUSER marker implies everything (rbac.rs:200-245). */
  private def roleHasPerm(s: QueryEngine#Session, perm: String): Boolean =
    effectiveRoles(s).exists { r =>
      val ps = catalog.rolePerms(r)
      ps.contains("SUPERUSER") || ps.contains(perm)
    }

  /** Session superuser, by flag or by holding a SUPERUSER-bundle role
    * (the reference's RoleName::Superuser membership). */
  private def isSuperuser(s: QueryEngine#Session): Boolean =
    s.superuser || effectiveRoles(s).exists(r =>
      catalog.rolePerms(r).contains("SUPERUSER"))

  private[exec] def requireSuperuser(what: String): Unit =
    if (privilegesEnabled && !isSuperuser(current))
      throw new SecurityException(s"permission denied: $what requires superuser")

  /** Superuser check that does NOT wait for the privilege gate — for
    * statements that undermine security machinery that is active
    * regardless of the gate (RLS administration, the audit switch,
    * trigger DDL whose bodies execute under OTHER sessions). */
  private def requireSuperuserAlways(what: String): Unit =
    if (!isSuperuser(current))
      throw new SecurityException(s"permission denied: $what requires superuser")

  /** Gate on a role-bundle permission: passes when the gate is off,
    * the session is superuser, or an effective role's bundle carries
    * `perm` (rbac.rs:433-452 has_permission). */
  private def requirePerm(what: String, perm: String): Unit =
    if (privilegesEnabled && !isSuperuser(current) &&
        !roleHasPerm(current, perm))
      throw new SecurityException(
        s"permission denied: $what requires $perm")

  /** A materialized view's stored rows are shared across every session,
    * so the population query must see the FULL table state. A
    * non-superuser session whose read would be RLS-filtered must not
    * populate one — it would durably overwrite the shared matview with
    * only its own visible subset (PG forbids RLS tables in matviews for
    * the same reason). Superuser sessions read unfiltered, so their
    * population is always whole. */
  private[exec] def requireUnfilteredPopulation(what: String, viewSql: String): Unit = {
    requireSuperuser(what)
    if (!current.superuser) {
      val rls = readsOf(viewSql).getOrElse(Nil).collect {
        case QueryEngine.Ref.Table(t) if catalog.isRlsEnabled(t) => t
      }.distinct
      if (rls.nonEmpty)
        throw new SecurityException(
          s"permission denied: $what over RLS-enabled table(s) " +
            s"${rls.toSeq.sorted.mkString(", ")} requires superuser — a " +
            "filtered population would persist a partial shared view")
    }
  }

  /** Raise unless the session holds `priv` (or ALL) on `table` —
    * granted directly, via a role, or to PUBLIC
    * (auth.rs:647 check_permission; PG error shape). */
  private def checkPrivilege(table: String, priv: String): Unit =
    if (privilegesEnabled && !isSuperuser(current) &&
        catalog.get(table).isDefined) {
      val gs = catalog.granteesOf(table, priv)
      val s = current
      val roles = effectiveRoles(s)
      // granted directly, via a role's table grant, to PUBLIC — or
      // database-wide through a role BUNDLE's DML permission
      // (rbac.rs Permission::Select et al. are global, not per-table)
      val ok = gs.contains("PUBLIC") || gs.contains(s.user) ||
        gs.exists(roles) || roleHasPerm(s, priv)
      if (!ok)
        throw new SecurityException(
          s"permission denied for table $table ($priv)")
    }

  // ------------------------------------------------- row-level security

  /** The session's visible-row predicate for `command` on `table`, or
    * None when RLS doesn't constrain it (disabled, or superuser
    * session). PG/reference semantics (row_level_security.rs:289-340):
    * permissive policies OR together, restrictive ones AND on top; RLS
    * enabled with no applicable permissive policy denies every row
    * (default deny). A policy expression evaluating to NULL counts as
    * not passing. */
  private def rlsFilter(table: String, command: String)
      : Option[org.apache.spark.sql.Column] =
    rlsPredicate(table, command, _.usingExpr)

  /** The write-side predicate (WITH CHECK) for rows `command` is about
    * to land; a policy without WITH CHECK falls back to USING (PG). */
  private[exec] def rlsCheckPredicate(table: String, command: String)
      : Option[org.apache.spark.sql.Column] =
    rlsPredicate(table, command, p => p.checkExpr.orElse(p.usingExpr))

  private def rlsPredicate(table: String, command: String,
      exprOf: graft.catalog.PolicyDef => Option[String])
      : Option[org.apache.spark.sql.Column] = {
    val s = current
    if (isSuperuser(s) || !catalog.isRlsEnabled(table)) return None
    val roles = effectiveRoles(s)
    val applicable = catalog.policiesFor(table, command).filter(p =>
      p.roles.isEmpty || p.roles.contains(s.user) || p.roles.exists(roles))
    // a clause-less policy (no USING, no WITH CHECK) passes everything
    def toCol(p: graft.catalog.PolicyDef) = exprOf(p).fold(lit(true))(e =>
      coalesce(expr(bindSessionUser(e)), lit(false)))
    val (perm, restr) = applicable.partition(_.permissive)
    if (perm.isEmpty) Some(lit(false))
    else Some(restr.map(toCol).foldLeft(perm.map(toCol).reduce(_ || _))(_ && _))
  }

  /** `current_user` in a policy expression binds to the SESSION user
    * (substituted as an escaped literal at code positions — Spark's own
    * current_user() would name the OS user running the JVM). */
  private def bindSessionUser(e: String): String = {
    val lower = e.toLowerCase
    if (!lower.contains("current_user")) return e
    val code = SqlText.codeMask(e)
    val userLit = "'" + current.user.replace("'", "''") + "'"
    val R = """(?i)\bcurrent_user\b(\s*\(\s*\))?""".r
    val sb = new StringBuilder
    var last = 0
    for (m <- R.findAllMatchIn(e)) if (code(m.start)) {
      sb.append(e.substring(last, m.start)).append(userLit)
      last = m.end
    }
    if (last == 0) e else { sb.append(e.substring(last)); sb.toString }
  }

  /** INSERT (VALUES or SELECT) and COPY: align source columns to the
    * target column list (by position, like the reference —
    * sql_bridge.rs:3505-3663); an omitted column takes its DEFAULT,
    * else NULL, and an omitted AUTO_INCREMENT column draws its ids.
    * INSERT enforces pk uniqueness against current state and within
    * the batch. `bulk` (COPY FROM, the `graft` data source) skips the
    * pk-uniqueness probes — the documented bulk-ingest contract: a
    * duplicate key collapses last-write-wins instead of raising. */
  private def insertFrom(table: String, cols: Option[Seq[String]], src: DataFrame,
      bulk: Boolean = false): DataFrame = {
    val t = catalog.require(table)
    checkPrivilege(table, "INSERT")
    val target = cols.getOrElse(t.columns.map(_.logical))
    require(src.columns.length == target.length,
      s"INSERT column count ${target.length} != SELECT/VALUES arity ${src.columns.length}")
    val unknown = target.filterNot(c => t.columns.exists(_.logical == c))
    require(unknown.isEmpty, s"unknown INSERT columns: ${unknown.mkString(",")}")
    val positioned = src.toDF(target: _*)
    // a column omitted from the INSERT list takes its DEFAULT, else NULL
    // (constraints.rs Default; an explicit NULL still inserts NULL, as
    // in PG)
    val defaults = defaultsOf(table)
    def complete(df: DataFrame, autoId: Option[String]): DataFrame =
      df.select(t.columns.map(c =>
        (if (autoId.contains(c.logical)) col("_auto_id")
         else if (target.contains(c.logical)) col(c.logical)
         else expr(defaults.getOrElse(c.logical, "NULL")))
          .cast(c.dataType).as(c.logical)): _*)
    // pin the batch ONCE: the PK/FK/constraint probe jobs and the
    // append below all read the pinned blocks instead of re-executing
    // the source lineage per action (an INSERT ... SELECT would
    // otherwise run three times), and a trigger body writing this same
    // table cannot mutate what the pinned batch reads
    val (full, fullCounts) = catalog.autoIncSequenceFor(table)
      .filterNot { case (_, c) => target.contains(c) } match {
      case Some((seqName, idCol)) =>
        // omitted AUTO_INCREMENT column: pin the source (the pin knows
        // its row count), reserve the id block with ONE catalog write,
        // and assign the ids from the pin's layout, distributed (the
        // reference draws per row under a lock — sequences.rs:108-142;
        // a block reservation is the 100 TB shape). A literal-scale
        // batch (LocalRelation, incl. collect-literalized bounded
        // sources) assigns ids DRIVER-SIDE and stays a LocalRelation,
        // so it keeps the whole literal fast path — driver-folded
        // guards, job-free sequencing, single-file staging.
        val p = pinBatch(positioned, literal = true)
        val n = p.counts.sum
        val first = if (n > 0) catalog.reserveSequenceBlock(seqName, n) else 1L
        // a pin without a layout is a LocalRelation
        (complete(EventLog.assignSequences(p.df, first - 1, p.layout,
          literal = p.layout.isEmpty, "_auto_id")._1,
          Some(idCol)), p.layout)
      case None =>
        val p = pinBatch(complete(positioned, None), literal = true)
        (p.df, p.layout)
    }
    fireTriggers(table, "INSERT", "BEFORE", None, Some(full))
    // every declarative guard in ONE Spark job: pk batch-duplicates, pk
    // state collisions, and NOT NULL / CHECK / UNIQUE probes union into
    // a single limit-1 collect
    // one state read shared by the pk and constraint probes — each
    // stateAt call re-plans the log scan, so building it once keeps the
    // guard job's plan (and its parquet footer work) single. A table
    // with no events at all (first bulk load) substitutes an empty
    // LocalRelation: PropagateEmptyRelation then erases the
    // state-collision probes at optimization time, so the guard job
    // carries only the within-batch checks — no stage ever scans the
    // empty log
    lazy val state: DataFrame =
      if (catalog.lastSeq(t.name) == 0L &&
          txn.forall(_.seqs.get(t.name).isEmpty) && t.attached.isEmpty)
        emptyFrame(t.logicalSchema)
      else stateAt(table, None)
    val (n, last) = append(t, full, EventLog.INSERT, pkChecked = !bulk,
      probes = () => guards.ofWrite(t, full, state, None, pkUnique = !bulk),
      pinnedCounts = fullCounts)
    fireTriggers(table, "INSERT", "AFTER", None, Some(full))
    summary(if (bulk) "ingest" else "insert", n, last)
  }

  /** The rows an UPDATE or DELETE touches — `where` and the session's
    * `command` row policies over the current state — and the state
    * read. Their order becomes event order, so they come from the keyed
    * dmlRead plan, except outside a transaction when the driver holds
    * the table's tail and the flat state plan folds to a LocalRelation
    * of at most one row: a pk point read over the snapshot and the tail
    * (PointReads), run on the driver with no Spark job. The keyed plan
    * of a pk point read folds on the driver as well when it holds at
    * most one row (`StateView.stateAtKeyed`'s `ordered`). One row has
    * one order, so the statement emits the same events bare or inside
    * BEGIN..COMMIT. */
  private def matchedBatch(table: String, where: Option[String],
      command: String): (DataFrame, DataFrame) = {
    def over(state: DataFrame): (DataFrame, DataFrame) = {
      val m = where.fold(state)(w => state.where(boundExpr(w)))
      (rlsFilter(table, command).fold(m)(m.where), state)
    }
    val t = catalog.require(table)
    val tailKnown = txn.isEmpty && commit.tailAbove(t,
      Snapshots.nearest(spark, catalog.snapshotPath(table), None), None,
      dmlRead = false).isDefined
    Option.when(tailKnown)(over(stateAt(table, None))).flatMap { case (m, state) =>
      m.queryExecution.optimizedPlan match {
        // a frame over the rows themselves: frames derived from `m`
        // would plan (and read) the snapshot again
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
            if lr.data.length <= 1 =>
          Some((GraftBridge.localFrame(spark, m.schema, lr.data), state))
        case _ => None
      }
    }.getOrElse(over(stateAt(table, None, dmlRead = true)))
  }

  /** UPDATE: fetch matching current-state rows, apply assignments (RHS
    * may reference old row values — Catalyst `expr`), emit full-row
    * PATCH events; a PK-changing update is SoftDelete + Insert (PG
    * semantics, sql_bridge.rs:5473-5668). Both shapes share the pin,
    * the triggers and the guard probes; the pk-changing one adds the
    * pk-uniqueness probes against the rows that survive it. */
  def update(table: String, assigns: Seq[(String, String)], where: Option[String]): DataFrame = {
    val t = catalog.require(table)
    checkPrivilege(table, "UPDATE")
    val bad = assigns.map(_._1).filterNot(a => t.columns.exists(_.logical == a))
    require(bad.isEmpty, s"unknown UPDATE columns: ${bad.mkString(",")}")
    // row policies narrow which rows this session's UPDATE can touch;
    // rows it cannot see survive untouched (PG UPDATE-USING semantics)
    val (matching0, state) = matchedBatch(table, where, "UPDATE")
    // pin the matched batch once: trigger/FK probe jobs and the appends
    // read blocks instead of replaying the state collapse per action, a
    // trigger body writing this table cannot change what the batch
    // lineage re-reads, and a pk-changing update's INSERT append works
    // from the materialized copy, not a re-scan of the log its
    // tombstone append just mutated
    val mp = pinBatch(matching0, literal = true)
    val matching = mp.df
    val updated = matching.select(t.columns.map { c =>
      assigns.find(_._1 == c.logical) match {
        case Some((_, e)) => boundExpr(e).cast(c.dataType).as(c.logical)
        case None => col(c.logical)
      }
    }: _*)
    fireTriggers(table, "UPDATE", "BEFORE", Some(matching), Some(updated))
    val touched = assigns.map(_._1).toSet
    val pkChanges = touched(t.pk)
    def survivors = state.join(matching.select(col(t.pk)), Seq(t.pk), "left_anti")
    val probes = () => guards.ofWrite(t, updated, survivors, Some(touched),
      pkUnique = pkChanges, Some(matching))
    val (n, last) =
      if (pkChanges) {
        val (nd, _) = append(t, matching, EventLog.SOFT_DELETE, probes = probes,
          pinnedCounts = mp.layout)
        (nd, append(t, updated, EventLog.INSERT, pinnedCounts = mp.layout)._2)
      } else append(t, updated, EventLog.PATCH, probes = probes,
        pinnedCounts = mp.layout)
    fireTriggers(table, "UPDATE", "AFTER", Some(matching), Some(updated))
    summary("update", n, last)
  }

  /** DELETE: matching current-state rows become SoftDelete tombstones
    * (payload keeps the last row image, like the drift history shows). */
  def delete(table: String, where: Option[String]): DataFrame = {
    val t = catalog.require(table)
    checkPrivilege(table, "DELETE")
    // rows the session cannot see (RLS DELETE-USING) are not deletable
    val (matching0, _) = matchedBatch(table, where, "DELETE")
    // pin the doomed batch once — FK/trigger probe jobs and the append
    // read blocks instead of replaying state collapse per action, and a
    // trigger body writing this table cannot change what the lazy
    // lineage re-reads
    val mp = pinBatch(matching0, literal = true)
    val matching = mp.df
    fireTriggers(table, "DELETE", "BEFORE", Some(matching), None)
    val (n, last) = append(t, matching, EventLog.SOFT_DELETE,
      probes = () => guards.ofDelete(t, matching),
      pinnedCounts = mp.layout)
    fireTriggers(table, "DELETE", "AFTER", Some(matching), None)
    summary("delete", n, last)
  }

  /** TRUNCATE = soft-delete every current row (sql_bridge.rs:701-750);
    * DELETE triggers fire with the full table as old_rows. */
  def truncate(table: String): DataFrame = {
    val r = delete(table, None)
    // an emptied table's ordered-ingest watermark resets with it —
    // a rebuilt pipeline re-ingests from pk 1, like the pre-watermark
    // content-derived guard would have allowed
    catalog.clearWatermark(table)
    r
  }

  /** SNAPSHOT/VACUUM/CHECKPOINT TABLE: materialize collapsed state at
    * the current sequence (engine.rs:739-845).
    *
    * The collapse source is the newest checkpoint <= seq unioned with
    * the log tail above it — NOT the raw log. After VACUUM RETAIN the
    * pre-floor log files are physically gone, so a raw-log collapse
    * would silently drop every reclaimed row from the new checkpoint,
    * and reads prefer the newest snapshot: that is durable data loss
    * on the very next SNAPSHOT (or auto-snapshot). Tail-based collapse
    * is also the 100 TB shape — checkpoint cost is proportional to
    * events since the last snapshot, not to full history. */
  def snapshot(table: String, atSeq: Option[Long] = None): DataFrame =
    tracer.span("snapshot", table)(snapshotInner(table, atSeq))

  private def snapshotInner(table: String, atSeq: Option[Long]): DataFrame = {
    // a snapshot reads events(), which includes buffered uncommitted
    // writes — persisting those would leak rolled-back data
    outsideTxn("SNAPSHOT")
    val t = catalog.require(table)
    val seq = atSeq.getOrElse(catalog.lastSeq(t.name))
    val snapDir = catalog.snapshotPath(table)
    val base = Snapshots.nearest(spark, snapDir, Some(seq))
    // base == seq: the state at seq is already checkpointed — and
    // overwriting the dir our own scan would read from is a
    // read-while-delete hazard. No-op.
    if (!base.contains(seq)) {
      val src = base match {
        case Some(b) =>
          Snapshots.read(spark, snapDir, b, Some(EventLog.schema(t.payloadSchema)))
            .unionByName(
              events(t).where(col("sequence") > b && col("sequence") <= seq),
              allowMissingColumns = true)
        case None => events(t)
      }
      val opts = commit.writeOptions(t.name)
      // flat-log certificate: every source row is already a unique-pk
      // INSERT (checkpoint rows are collapsed inserts; tail events are
      // certified inserts disjoint from them), so the collapse window
      // would be an identity — write the frames directly. This is what
      // keeps AUTO-snapshots of append-only streaming registries from
      // re-windowing the whole registry every 100k postings.
      if (t.attached.isEmpty && catalog.isFlatLog(t.name))
        Snapshots.writePrecollapsed(
          src.where(col("sequence") <= seq).select(col("sequence"),
            col("ts"), col("event_type"), col("pk"), col("payload")),
          snapDir, seq, opts)
      else Snapshots.write(src, snapDir, seq, opts)
    }
    commit.snapshotted(t, seq)
    summary("snapshot", 0L, seq)
  }

  /** OPTIMIZE t [ZORDER BY (c1, ...)]: rewrite the current checkpoint
    * with a clustered physical layout (graft.operators.ZOrder). The
    * flow is deliberately two-phase so the expensive state collapse
    * runs exactly once and the clustering pass reads flat parquet:
    *   1. ensure a checkpoint exists at the current sequence
    *      (`snapshot` — a no-op when one is already there);
    *   2. read that checkpoint (a plain columnar scan, no collapse),
    *      cluster it, and publish as the NEXT snapshot version dir —
    *      the old version keeps serving reads until the new one is
    *      complete, so the rewrite is crash-safe with no in-place
    *      overwrite.
    * Clustering columns default to the primary key (point-lookup
    * locality); multi-column ZORDER BY interleaves so every listed
    * column's parquet min/max stats stay selective at once. */
  def optimize(table: String, zorderBy: Seq[String] = Seq.empty): DataFrame = {
    outsideTxn("OPTIMIZE")
    // rewrites the shared checkpoint layout (PG's CLUSTER requires
    // ownership for the same reason) — admin surface under the gate
    requirePerm("OPTIMIZE", "COMPACT") // admin carries CompactDatabase
    val t = catalog.require(table)
    require(t.attached.isEmpty, s"cannot optimize attached event log: $table")
    val logical = if (zorderBy.nonEmpty) zorderBy else Seq(t.pk)
    val physical = logical.map { name =>
      t.columns.find(_.logical.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"ZORDER BY column $name does not exist in $table")).physical
    }
    snapshot(table)
    val seq = catalog.lastSeq(t.name)
    val snapDir = catalog.snapshotPath(table)
    val frames = Snapshots.read(spark, snapDir, seq,
      Some(EventLog.schema(t.payloadSchema)))
    val clustered = graft.operators.ZOrder.cluster(
      frames, physical.map(p => s"payload.$p"),
      spark.sessionState.conf.numShufflePartitions)
    Snapshots.writeVersioned(clustered, snapDir, seq, commit.writeOptions(t.name))
    summary("optimize", 0L, seq)
  }

  /** DIFF TABLE: the NET row delta between the collapsed states at two
    * sequences — each pk classified added / removed / modified (full
    * row carried from the newer state; removed rows carry their
    * FROM-state image — what the older state held is what vanished).
    * One full-outer join of two snapshot-accelerated
    * collapses; a pk whose row churned and returned identical shows NO
    * change, which is exactly what the event feed (FOR SYSTEM_TIME
    * BETWEEN) cannot say without replaying the fold. Both reads
    * respect RLS (the session sees only its visible rows' changes). */
  def diff(table: String, fromSeq: Long, toSeq: Long): DataFrame = {
    val t = catalog.require(table)
    checkPrivilege(table, "SELECT")
    val rls = rlsFilter(table, "SELECT")
    def side(seq: Long, prefix: String) = {
      val s0 = stateAt(table, Some(seq))
      rls.fold(s0)(s0.where)
        .select(t.columns.map(c => col(c.logical).as(s"$prefix${c.logical}")): _*)
    }
    val o = side(fromSeq, "_o_")
    val n = side(toSeq, "_n_")
    val oPk = col(s"_o_${t.pk}")
    val nPk = col(s"_n_${t.pk}")
    val oRow = struct(t.columns.map(c => col(s"_o_${c.logical}")): _*)
    val nRow = struct(t.columns.map(c => col(s"_n_${c.logical}")): _*)
    o.join(n, oPk === nPk, "full_outer")
      .withColumn("change",
        when(oPk.isNull, "added")
          .when(nPk.isNull, "removed")
          .when(!(oRow <=> nRow), "modified"))
      .where(col("change").isNotNull)
      .select(col("change") +: t.columns.map(c =>
        coalesce(col(s"_n_${c.logical}"), col(s"_o_${c.logical}"))
          .as(c.logical)): _*)
  }

  /** VACUUM t RETAIN @SEQ:N — physical storage reclamation (the
    * reclamation half of the reference's segment compaction,
    * engine.rs:739-845). Ensures a snapshot at or before N exists
    * (taking one at N if not), deletes every log file whose max
    * sequence the snapshot covers, deletes snapshots older than the
    * one serving the floor, and records the retention floor: time
    * travel below it raises instead of silently returning partial
    * state. At 100 TB this is the operation that keeps an append-only
    * log's storage bounded — the collapse replay cost was already
    * bounded by snapshots; this bounds the bytes. Files spanning the
    * floor (min <= floor < max) are kept whole: the tail filter
    * already prunes their pre-floor events by the sequence predicate. */
  def vacuumRetain(table: String, retainSeq: Long): DataFrame = {
    // physically destroys shared history below the floor — destructive
    // admin surface, same gate class as DROP TABLE / RESTORE
    requirePerm("VACUUM RETAIN", "COMPACT") // admin carries CompactDatabase
    val t = catalog.require(table)
    require(t.attached.isEmpty, s"cannot vacuum attached event log: $table")
    val snapDir = catalog.snapshotPath(table)
    val floor = Snapshots.nearest(spark, snapDir, Some(retainSeq)).getOrElse {
      snapshot(table, atSeq = Some(retainSeq))
      retainSeq
    }
    val logP = new Path(catalog.logPath(table))
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var deleted = 0L
    if (fs.exists(logP)) {
      // one pass over the log's (file -> max sequence) — vacuum is
      // rare, and parquet reads only the sequence column
      val covered = spark.read.schema(EventLog.schema(t.payloadSchema))
        .parquet(logP.toString)
        .groupBy(input_file_name().as("_f"))
        .agg(max("sequence").as("_mx"))
        .where(col("_mx") <= floor)
        .collect().map(_.getString(0))
      for (uri <- covered) {
        val p = new Path(new java.net.URI(uri))
        if (fs.delete(p, false)) deleted += 1
      }
    }
    // snapshots strictly below the floor can no longer serve any
    // readable as-of — reclaim them too
    for (s <- Snapshots.available(spark, snapDir) if s < floor)
      Snapshots.delete(spark, snapDir, s)
    catalog.setRetentionFloor(table, floor)
    commit.forget(table)
    summary("vacuumed", deleted, floor)
  }

  private def inferCopyFormat(path: String): String = {
    val p = path.toLowerCase
    if (p.endsWith(".parquet") || p.endsWith(".pq")) "parquet"
    else if (p.endsWith(".csv")) "csv"
    else "jsonl"
  }

  /** Bulk ingest with format selection — JSONL for reference parity,
    * parquet and header CSV as the Spark-native additions (a real
    * 100 TB load arrives as parquet; every column casts to the
    * catalog's declared type, so CSV's all-string read types up
    * correctly). */
  private def ingestFile(table: String, path: String, format: String): DataFrame = {
    // gate BEFORE touching the file: JSON schema inference scans the
    // whole input, so an ungranted session (or a typo'd table) must be
    // rejected with zero I/O, not after a full-file read
    catalog.require(table)
    checkPrivilege(table, "INSERT")
    val raw = format match {
      case "jsonl" | "json" => spark.read.json(path)
      case "parquet" => spark.read.parquet(path)
      // RFC-4180 CSV: quote-doubling escapes and quoted fields may
      // span lines (the wire COPY spool emits exactly that shape) —
      // multiLine costs per-file splittability, which bulk COPY
      // accepts for correctness on embedded newlines
      case "csv" => spark.read.option("header", "true")
        .option("multiLine", "true").option("escape", "\"").csv(path)
      case other => throw new IllegalArgumentException(
        s"unsupported COPY format: $other (JSONL | PARQUET | CSV)")
    }
    ingestFrame(table, raw)
  }

  /** `ingestFrame` under `session`'s security context — the governed
    * write surface of the `graft` data source
    * (`df.write.format("graft").option("user", u)`): the privilege
    * gate and write-side RLS policies see the session, not root. Runs
    * in the batch envelope (Commit.writeBatch) with no replay id, so it takes
    * the base-dir lock like every other write. */
  def ingestFrameAs(session: Session, table: String, df: DataFrame): DataFrame =
    commit.writeBatch(s"INGEST FRAME $table", None, session)(ingestFrame(table, df))
      .get // no replay id: never skipped

  /** Bulk-append an arbitrary DataFrame — the shared tail of COPY FROM
    * and the `graft` data-source write path (`df.write.format("graft")`):
    * an INSERT of the table columns the frame carries, matched by name,
    * without the pk-uniqueness probes (see insertFrom). Private, like
    * ingestFile: both run only inside a statement (COPY) or the batch
    * envelope (ingestFrameAs), which hold the locks. */
  private def ingestFrame(table: String, raw: DataFrame): DataFrame = {
    val present = catalog.require(table).columns.map(_.logical)
      .filter(raw.columns.contains)
    insertFrom(table, Some(present), raw.select(present.map(col): _*), bulk = true)
  }

  /** One stream micro-batch (Commit.ingestStream). */
  private[graft] def ingestStream(table: String, batch: DataFrame,
      streamId: Option[String] = None, batchId: Long = -1L): Unit =
    commit.ingestStream(table, batch, streamId, batchId)

  // ========================================================== utilities

  /** EXPLAIN <query>: the formatted Catalyst plan (sql_bridge.rs:
    * 580-670 renders its own plan tree; ours is the real physical
    * plan, PushedFilters and all). EXPLAIN ANALYZE additionally
    * executes the query and reports wall time and row count, like the
    * reference's timed variant (explain.rs, sql_bridge.rs:580-670). */
  def explain(inner: String, analyze: Boolean = false,
      format: String = "text"): DataFrame = {
    val df = select(inner)
    // FORMAT JSON serializes the physical plan tree (every operator
    // node with its fields) — the reference's structured explain
    // (explain.rs, sql_bridge.rs:580-670); FORMAT YAML emits the same
    // tree as a node/detail/children document (explain.rs supports
    // both); TEXT keeps the formatted human-readable plan with
    // PushedFilters et al.
    val text = format match {
      case "json" => df.queryExecution.executedPlan.toJSON
      case "yaml" =>
        // AQE's root keeps the real plan in inputPlan, not children —
        // unwrap so the YAML tree shows the operators
        df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            planYaml(a.inputPlan, "")
          case p => planYaml(p, "")
        }
      case _ => df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    if (analyze) {
      // execute the PLAN BEING SHOWN: df.count() would let Catalyst
      // prune projections/sorts and time a cheaper query than the one
      // printed; running the compiled physical plan's RDD keeps them
      // identical
      val t0 = System.nanoTime()
      val n = df.queryExecution.executedPlan.execute().count()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      oneRow("plan" -> text, "n_rows" -> n, "elapsed_ms" -> elapsedMs)
    } else oneRow("plan" -> text)
  }

  /** Physical plan tree → YAML: one `- node/detail/children` mapping
    * per operator, details double-quoted with escapes. */
  private def planYaml(p: org.apache.spark.sql.execution.SparkPlan,
      indent: String): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val head = s"$indent- node: ${p.nodeName}\n" +
      s"$indent  detail: ${q(p.simpleString(120))}\n"
    if (p.children.isEmpty) head
    else head + s"$indent  children:\n" +
      p.children.map(planYaml(_, indent + "    ")).mkString
  }

  /** ANALYZE TABLE: row count + per-column ndv/min/max, stored for
    * inspection (sql_bridge.rs:671-700; engine.rs:1422). In a cluster
    * deployment these land in the metastore for CBO; here they feed
    * the catalog's stats map. */
  def analyze(table: String): DataFrame = {
    val t = catalog.require(table)
    val state = stateAt(table, None)
    // the numeric columns' histogram BOUNDS ride the same aggregation
    // (as doubles) so the whole ANALYZE is the base stats job plus ONE
    // bucket-counts job — no separate bounds pass
    val numeric = t.columns.filter(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val aggs = t.columns.flatMap(c => Seq(
      count(col(c.logical)).as(s"nn_${c.logical}"),
      approx_count_distinct(col(c.logical)).as(s"ndv_${c.logical}"),
      min(col(c.logical)).cast("string").as(s"min_${c.logical}"),
      max(col(c.logical)).cast("string").as(s"max_${c.logical}"))) ++
      numeric.flatMap(c => Seq(
        min(col(c.logical)).cast("double").as(s"lo_${c.logical}"),
        max(col(c.logical)).cast("double").as(s"hi_${c.logical}")))
    val row = state.agg(count(lit(1)).as("n_rows"), aggs: _*).head()
    val nRows = row.getAs[Long]("n_rows")
    catalog.stats(table) = row.schema.fieldNames
      .map(f => f -> Option(row.getAs[Any](f)).map(_.toString).orNull).toMap
    catalog.colStats(table) = t.columns.map { c =>
      c.logical -> graft.catalog.TableCatalog.ColStat(
        nullCount = nRows - row.getAs[Long](s"nn_${c.logical}"),
        ndv = row.getAs[Long](s"ndv_${c.logical}"),
        min = row.getAs[String](s"min_${c.logical}"),
        max = row.getAs[String](s"max_${c.logical}"))
    }.toMap
    analyzeHistograms(table, state, nRows, row)
    oneRow("table" -> table, "n_rows" -> nRows)
  }

  /** Equi-width 10-bucket histograms for every numeric column
    * (stats.rs histogram shape), in ONE aggregation job: each bucket
    * count is a conditional sum, so the whole pass is a global partial
    * aggregate over the scan — no shuffle of data rows, no per-column
    * jobs. The bucket BOUNDS arrive with ANALYZE's base stats row
    * (`bounds`), so no separate min/max pass runs either. Bucket
    * arithmetic is plain IEEE `(x−lo)/(hi−lo)·B` floored and clamped,
    * so any engine reproduces the counts exactly. */
  private def analyzeHistograms(table: String, state: DataFrame,
      nRows: Long, bounds: org.apache.spark.sql.Row): Unit = {
    import org.apache.spark.sql.types.NumericType
    val t = catalog.require(table)
    val numeric = t.columns.filter(_.dataType.isInstanceOf[NumericType])
    catalog.histograms.filterInPlace { case ((tn, _), _) => tn != table }
    if (numeric.isEmpty || nRows == 0) return
    val B = 10
    val counts = state.agg(count(lit(1)).as("_n"),
      numeric.flatMap { c =>
        val lo = bounds.getAs[Double](s"lo_${c.logical}")
        val hi = bounds.getAs[Double](s"hi_${c.logical}")
        val x = col(c.logical).cast("double")
        // `least` skips nulls (SQL semantics), so guard: a null value
        // must produce a null bucket, not land in the last one
        val bucket =
          if (hi == lo) when(x.isNotNull, lit(0))
          else when(x.isNotNull, least(lit(B - 1),
            floor((x - lit(lo)) / (lit(hi) - lit(lo)) * lit(B))))
        (0 until B).map(b =>
          sum(when(bucket === b, 1L).otherwise(0L)).as(s"b${b}_${c.logical}"))
      }: _*).head()
    numeric.foreach { c =>
      val lo = bounds.getAs[Double](s"lo_${c.logical}")
      val hi = bounds.getAs[Double](s"hi_${c.logical}")
      val width = (hi - lo) / B
      catalog.histograms((table, c.logical)) = (0 until B).map { b =>
        (lo + b * width, if (b == B - 1) hi else lo + (b + 1) * width,
          counts.getAs[Long](s"b${b}_${c.logical}"))
      }
    }
  }

  /** SHOW STATS FOR t — the per-column ANALYZE detail
    * (stats.rs:1-60: cardinality, null counts, min/max). Computes on
    * demand when the table was never analyzed; a later ANALYZE
    * refreshes. Gated on the SELECT privilege — min/max are data. */
  def showStats(table: String): DataFrame = {
    checkPrivilege(table, "SELECT")
    if (!catalog.colStats.contains(table)) analyze(table)
    val nRows = catalog.stats(table)("n_rows").toLong
    val rows = catalog.colStats(table).toSeq.sortBy(_._1).map {
      case (c, s) => (c, nRows, s.nullCount, s.ndv, s.min, s.max)
    }
    import spark.implicits._
    rows.toDF("col_name", "n_rows", "null_count", "ndv", "min", "max")
  }

  /** SHOW HISTOGRAM t col — the stored equi-width bucket counts for a
    * numeric column. Same governance and compute-on-demand discipline
    * as SHOW STATS. */
  def showHistogram(table: String, column: String): DataFrame = {
    checkPrivilege(table, "SELECT")
    if (!catalog.colStats.contains(table)) analyze(table)
    val t = catalog.require(table)
    require(t.columns.exists(_.logical == column),
      s"requirement failed: no column $column in $table")
    val buckets = catalog.histograms.getOrElse((table, column),
      throw new IllegalArgumentException(
        s"requirement failed: no histogram for $table.$column (non-numeric or empty table)"))
    import spark.implicits._
    buckets.zipWithIndex
      .map { case ((lo, hi, n), b) => (b.toLong, lo, hi, n) }
      .toDF("bucket", "lo", "hi", "n")
  }

  // ========================================================= integrity

  /** Audit one parquet path for end-to-end readability: Right(rows,
    * sequence range) or Left(failure). One bounded Spark job — footer
    * corruption fails at planning, page corruption fails in the scan.
    * The per-row hash over EVERY column forces full page decode: a
    * pruned count would be answered from row-group metadata and never
    * touch a corrupt payload page. (Silent in-place bit flips that
    * still decode are content faults, not readability faults — CHECK
    * FULL's checkpoint-vs-log compare is the detector for those.) */
  private def auditParquet(path: String,
      schema: org.apache.spark.sql.types.StructType)
      : Either[String, (Long, Option[(Long, Long)])] =
    try {
      val df = spark.read.schema(schema).parquet(path)
      val r = df
        .select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"),
          col("sequence"))
        .agg(count(lit(1)), min(col("sequence")), max(col("sequence")),
          expr("bit_xor(__h)")).head()
      Right((r.getLong(0),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2)))))
    } catch { case e: Exception => Left(errLine(e)) }

  private def auditFrame(df: => DataFrame): Either[String, Long] =
    try {
      val d = df
      Right(d.select(xxhash64(d.columns.map(col).toIndexedSeq: _*).as("__h"))
        .agg(count(lit(1)), expr("bit_xor(__h)")).head().getLong(0))
    } catch { case e: Exception => Left(errLine(e)) }

  private def errLine(e: Exception): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .replaceAll("\\s+", " ").take(160)

  private def tableLogFiles(t: TableDef): Seq[Path] = {
    val p = new Path(catalog.logPath(t.name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
  }

  /** Missing sequences among `files` against the expected contiguous
    * range (floor, lastSeq]: (count, max missing). ONE distributed
    * anti-join of the expected range against the present sequences —
    * no driver-side materialization of either set. */
  private def missingSeqs(files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      floor: Long, lastSeq: Long): (Long, Long) = {
    val present =
      if (files.isEmpty)
        spark.range(0).select(col("id").as("sequence"))
      else spark.read.schema(schema).parquet(files: _*).select(col("sequence"))
    val r = spark.range(floor + 1, lastSeq + 1).toDF("sequence")
      .join(present, Seq("sequence"), "left_anti")
      .agg(count(lit(1)), max(col("sequence"))).head()
    (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
  }

  /** Order-independent content fingerprint of a frame: (row count,
    * bit_xor of per-row xxhash64). */
  private def stateFingerprint(df: DataFrame): (Long, Long) = {
    val hashed = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
    val r = hashed.agg(count(lit(1)), expr("bit_xor(__h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** CHECK TABLE t [FULL] — read-only integrity audit (the detection
    * half of the reference's self-healing recovery,
    * error_recovery.rs:395-505, expressed for a parquet event log):
    * one row per finding.
    *  - `log`: every log part file read end-to-end (per-file jobs, so
    *    one corrupt file cannot mask another);
    *  - `sequence`: the readable log must hold exactly the contiguous
    *    range (retention floor, lastSeq] — atomic publish guarantees
    *    it, so a hole means a lost or corrupt file;
    *  - `checkpoint`: every snapshot readable;
    *  - FULL adds `state`: the newest checkpoint's live rows must
    *    fingerprint-equal the log's own collapse at the same sequence
    *    (skipped — reported as SKIPPED — when the log is itself
    *    incomplete, corrupt, or vacuumed below the checkpoint). */
  def checkTable(table: String, full: Boolean = false): DataFrame = {
    checkPrivilege(table, "SELECT")
    val t = catalog.require(table)
    require(t.attached.isEmpty, s"cannot check attached event log: $table")
    val evSchema = EventLog.schema(t.payloadSchema)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String)]
    val readable = scala.collection.mutable.ArrayBuffer.empty[String]
    var logCorrupt = false
    val files = tableLogFiles(t)
    // happy path: ONE distributed read over the whole log dir; only a
    // failure falls back to per-file isolation jobs (so a clean 100 TB
    // log costs one scan, not one job per file)
    val wholeOk = files.nonEmpty &&
      auditParquet(catalog.logPath(t.name), evSchema).isRight
    if (wholeOk) {
      readable ++= files.map(_.toString)
      out += (("log", s"${files.size} file(s)", "OK", "whole-dir read"))
    } else for (p <- files) auditParquet(p.toString, evSchema) match {
      case Right((n, seqs)) =>
        readable += p.toString
        out += (("log", p.getName, "OK",
          s"rows=$n" + seqs.fold("")(s => s" seq=[${s._1},${s._2}]")))
      case Left(err) =>
        logCorrupt = true
        out += (("log", p.getName, "CORRUPT", err))
    }
    val floor = catalog.retentionFloor(t.name)
    val lastSeq = catalog.lastSeq(t.name)
    var holes = 0L
    if (lastSeq > floor) {
      val (missing, maxMissing) =
        missingSeqs(readable.toSeq, evSchema, floor, lastSeq)
      holes = missing
      out += (("sequence", t.name, if (missing == 0) "OK" else "HOLES",
        s"expected=($floor,$lastSeq] missing=$missing" +
          (if (missing > 0) s" max_missing=$maxMissing" else "")))
    }
    val snapDir = catalog.snapshotPath(t.name)
    val snaps = Snapshots.available(spark, snapDir)
    for (s <- snaps)
      auditFrame(Snapshots.read(spark, snapDir, s, Some(evSchema))) match {
        case Right(n) => out += (("checkpoint", s"seq=$s", "OK", s"rows=$n"))
        case Left(err) => out += (("checkpoint", s"seq=$s", "CORRUPT", err))
      }
    if (full) snaps.lastOption match {
      case Some(s) if !logCorrupt && holes == 0 && floor == 0 =>
        try {
          val snapState = Snapshots.read(spark, snapDir, s, Some(evSchema))
            .select(t.payloadSchema.fieldNames.toIndexedSeq
              .map(f => col(s"payload.`$f`").as(f)): _*)
          // collapse the RAW log (not stateAt — that would serve the
          // very checkpoint under audit) at the checkpoint's sequence
          val logState = StateView.stateAtKeyed(
            spark.read.schema(evSchema).parquet(catalog.logPath(t.name)),
            Some(s), t.pkPhysical)
          val (sn, sh) = stateFingerprint(snapState)
          val (ln, lh) = stateFingerprint(logState)
          out += (("state", s"seq=$s",
            if (sn == ln && sh == lh) "CONSISTENT" else "DIVERGED",
            s"checkpoint rows=$sn log rows=$ln"))
        } catch { case e: Exception =>
          out += (("state", s"seq=$s", "CORRUPT", errLine(e)))
        }
      case Some(s) =>
        out += (("state", s"seq=$s", "SKIPPED",
          "log incomplete, corrupt, or vacuumed — no independent collapse"))
      case None => ()
    }
    import spark.implicits._
    out.toSeq.toDF("component", "target", "status", "detail")
  }

  /** REPAIR TABLE t — act on what CHECK reports (the repair half of
    * the reference's recovery: error_recovery.rs:456-505 truncates a
    * corrupt segment at the corruption point and proceeds with
    * bounded, REPORTED data loss; the parquet-log analogue is
    * file-level):
    *  1. unreadable log files move to `<table>/quarantine/` (kept for
    *     forensics, out of every read path);
    *  2. unreadable checkpoints are dropped;
    *  3. a sequence hole raises the retention floor — to the smallest
    *     readable checkpoint covering the hole when one exists (state
    *     fully preserved, pre-hole history refused), else to the
    *     hole's top (events lost, reported);
    *  4. the current-state checkpoint is rebuilt from the readable
    *     artifacts so every later read serves clean files. */
  def repairTable(table: String): DataFrame = commit.locked {
    requireSuperuserAlways("REPAIR TABLE")
    outsideTxn("REPAIR TABLE")
    commit.ensureWriteLock()
    val t = catalog.require(table)
    require(t.attached.isEmpty, s"cannot repair attached event log: $table")
    val evSchema = EventLog.schema(t.payloadSchema)
    val fs = new Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val readable = scala.collection.mutable.ArrayBuffer.empty[String]
    val qDir = new Path(s"$baseDir/tables/${t.name}/quarantine")
    val files = tableLogFiles(t)
    // one whole-dir read decides the happy path (see checkTable)
    if (files.nonEmpty && auditParquet(catalog.logPath(t.name), evSchema).isRight)
      readable ++= files.map(_.toString)
    else for (p <- files) auditParquet(p.toString, evSchema) match {
      case Right(_) => readable += p.toString
      case Left(err) =>
        if (!fs.exists(qDir)) fs.mkdirs(qDir)
        if (!fs.rename(p, new Path(qDir, p.getName)))
          throw new java.io.IOException(s"quarantine rename failed: $p")
        out += (("quarantine", p.getName, err))
    }
    val snapDir = catalog.snapshotPath(t.name)
    for (s <- Snapshots.available(spark, snapDir))
      if (auditFrame(Snapshots.read(spark, snapDir, s, Some(evSchema))).isLeft) {
        Snapshots.delete(spark, snapDir, s)
        out += (("checkpoint_dropped", s"seq=$s", "unreadable"))
      }
    val snaps = Snapshots.available(spark, snapDir)
    val floor = catalog.retentionFloor(t.name)
    val lastSeq = catalog.lastSeq(t.name)
    if (lastSeq > floor) {
      val (missing, maxMissing) =
        missingSeqs(readable.toSeq, evSchema, floor, lastSeq)
      if (missing > 0) {
        val covering = snaps.find(_ >= maxMissing)
        val newFloor = covering.getOrElse(maxMissing)
        catalog.setRetentionFloor(t.name, newFloor)
        out += (("floor", t.name, s"raised to $newFloor"))
        out += (("lost", t.name, covering match {
          case Some(c) =>
            s"0 rows — checkpoint seq=$c preserves the state; " +
              "history at or below the floor is refused"
          case None =>
            s"up to $missing event(s) in ($floor,$maxMissing]"
        }))
      }
    }
    // invalidate the snapshot bookkeeping snapshot() consults, then
    // rebuild the current checkpoint from the readable artifacts
    commit.forget(t.name)
    snapshot(table)
    out += (("checkpoint", t.name,
      s"rebuilt at seq=${catalog.lastSeq(t.name)}"))
    import spark.implicits._
    out.toSeq.toDF("action", "target", "detail")
  }

  def showTables(): DataFrame = {
    import spark.implicits._
    catalog.tableNames.map(n => (n, "table")).toDF("name", "kind")
      .unionByName(catalog.viewNames.map(n =>
        (n, if (catalog.isMaterialized(n)) "materialized view" else "view"))
        .toDF("name", "kind"))
  }

  def describe(table: String): DataFrame = {
    import spark.implicits._
    val t = catalog.require(table)
    t.columns.map(c => (c.logical, c.dataType.sql, c.logical == t.pk))
      .toDF("column", "type", "primary_key")
  }

  /** SHOW CREATE TABLE: round-trippable DDL reconstructed from catalog
    * metadata — columns with declared types, PRIMARY KEY,
    * AUTO_INCREMENT, inline REFERENCES, and table-level constraints,
    * in the exact syntax the router parses. */
  def showCreateTable(table: String): DataFrame = {
    import spark.implicits._
    val t = catalog.require(table)
    val fks = catalog.foreignKeysOf(t.name).map(f => f._1 -> (f._2, f._3)).toMap
    val autoInc = catalog.autoIncSequenceFor(t.name).map(_._2)
    val notNull = catalog.constraintsOf(t.name)
      .collect { case graft.catalog.Constraint.NotNull(c) => c }.toSet
    val defaults = catalog.constraintsOf(t.name)
      .collect { case graft.catalog.Constraint.Default(c, e) => c -> e }.toMap
    val colDefs = t.columns.map { c =>
      val parts = Seq(c.logical, c.dataType.sql) ++
        (if (c.logical == t.pk) Seq("PRIMARY KEY") else Nil) ++
        (if (autoInc.contains(c.logical)) Seq("AUTO_INCREMENT") else Nil) ++
        (if (notNull(c.logical)) Seq("NOT NULL") else Nil) ++
        defaults.get(c.logical).map(e => s"DEFAULT $e").toSeq ++
        fks.get(c.logical).map { case (rt, rc) => s"REFERENCES $rt($rc)" }.toSeq
      parts.mkString(" ")
    }
    val tableCons = catalog.constraintsOf(t.name).collect {
      case graft.catalog.Constraint.Unique(cols) => s"UNIQUE (${cols.mkString(", ")})"
      case graft.catalog.Constraint.Check(e) => s"CHECK ($e)"
    }
    val ddl = s"CREATE TABLE ${t.name} (${(colDefs ++ tableCons).mkString(", ")})"
    Seq((t.name, ddl)).toDF("table", "create_table")
  }

  // ======================================================== attachments

  /** Expose a fixture parquet as a read-only base table (state-only —
    * no event history). */
  def attachExternal(name: String, path: String): Unit = {
    spark.read.parquet(path).createOrReplaceTempView(name)
  }

  /** Expose an in-memory event log as a temporal table. */
  def attachEventLog(name: String, pk: String, log: DataFrame): Unit =
    catalog.attachEventLog(name, pk, log)
}

object QueryEngine {
  /** A name a statement reads, as the engine binds it. */
  private sealed trait Ref
  private object Ref {
    final case class Table(name: String) extends Ref
    final case class View(name: String) extends Ref
    final case class MatView(name: String) extends Ref
    final case class Transition(name: String) extends Ref
  }

  /** Rebuild `plan` with `f` applied to each table reference in it:
    * every UnresolvedRelation, inside subquery expressions too, except a
    * name an enclosing WITH binds. `f` gets the flat catalog name (the
    * engine's namespace is flat, so a multipart `app.t` IS the name
    * "app.t" — the reference flattens `ObjectName.to_string()`,
    * sql_bridge.rs:3665) and the parts as written, and returns the
    * replacement, or None to leave the name for Spark. */
  private def mapRelations(plan: LogicalPlan, ctes: Set[String] = Set.empty)(
      f: (String, Seq[String]) => Option[LogicalPlan]): LogicalPlan = plan match {
    case w: UnresolvedWith =>
      // a CTE sees the ones defined before it (and itself, if recursive)
      val (defs, scope) = w.cteRelations.foldLeft(
          (Vector.empty[(String, SubqueryAlias, Option[Int])], ctes)) {
        case ((acc, sc), (n, q, d)) =>
          val own = sc + n.toLowerCase
          val bound = mapRelations(q, if (w.allowRecursion) own else sc)(f)
          (acc :+ ((n, bound.asInstanceOf[SubqueryAlias], d)), own)
      }
      w.copy(child = mapRelations(w.child, scope)(f), cteRelations = defs)
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier
      if (parts.size == 1 && ctes(parts.head.toLowerCase)) u
      else f(parts.mkString("."), parts).getOrElse(u)
    case p =>
      p.mapChildren(mapRelations(_, ctes)(f)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(mapRelations(s.plan, ctes)(f))
      }
  }

  /** The flat names of the table references in `plan` (mapRelations). */
  private def relationNames(plan: LogicalPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    mapRelations(plan) { (n, _) => out += n; None }
    out.result()
  }

  /** Engine over a fresh scratch dir (tests, per-query fixtures).
    * Inside a scratchScope, the engine is registered for teardown when
    * the scope ends. */
  def scratch(spark: SparkSession): QueryEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-")
    val e = new QueryEngine(spark, dir.toString)
    Option(scratchTracker.get()).foreach(_ += e)
    e
  }

  private val scratchTracker =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[QueryEngine]]

  /** Run a scratch-engine scenario, then tear down every scratch
    * engine it created on this thread: the (small) result is collected
    * and re-created as a LOCAL DataFrame, each engine closes
    * (releasing its base-dir lock, audit tail, and result-cache block
    * pins), and each scratch dir is deleted. Without the teardown, a
    * 100-query bench suite accumulates every scratch engine's temp
    * parquet and pinned executor blocks — enough block-manager
    * pressure to regress unrelated queries late in the suite.
    * Statement-path pins free with each engine's close() (pin
    * registry); scenario-level pins referenced by the result frame
    * free here, once the result is collected. */
  def scratchScope(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val created = scala.collection.mutable.ArrayBuffer.empty[QueryEngine]
    val prev = scratchTracker.get()
    scratchTracker.set(created)
    try {
      val res = body
      val rows = java.util.Arrays.asList(res.collect(): _*)
      val local = spark.createDataFrame(rows, res.schema)
      graft.Pins.free(res)
      local
    } finally {
      scratchTracker.set(prev)
      created.foreach { e =>
        scala.util.Try(e.close())
        deleteDir(java.nio.file.Paths.get(e.baseDir))
      }
    }
  }

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => scala.util.Try(java.nio.file.Files.delete(f)))
    }

  /** Shared daemon timer for statement timeouts — one thread per JVM,
    * not per statement. */
  private[exec] val timeoutTimer = new java.util.Timer("graft-stmt-timeout", true)

  /** The statement exceeded the session's STATEMENT_TIMEOUT and its
    * Spark jobs were cancelled (PG error 57014; the reference's
    * cancellation manager kills the handle the same way —
    * query_cancellation.rs:200-233). */
  final class StatementTimeoutException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** COMMIT lost the first-committer-wins race: another session
    * committed a write to a primary key this transaction also wrote,
    * after this transaction's snapshot (PG error 40001; the reference
    * rejects conflicting commits from its MVCC validator the same way —
    * mvcc.rs). The transaction is rolled back; retry it whole. */
  final class SerializationFailureException(msg: String)
    extends IllegalStateException(msg)
}
