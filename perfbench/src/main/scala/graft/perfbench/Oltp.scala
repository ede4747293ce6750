package graft.perfbench

import graft.exec.QueryEngine
import graft.server.PgServer
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Point statements over the PostgreSQL wire against `acct`, a table
  * bulk-loaded from generated rows (the load crosses the engine's
  * auto-snapshot threshold, so time-travel reads either replay the log
  * below the snapshot or read the snapshot plus its tail).
  *
  * Timed phases, after an untimed warm-up:
  *   - contended: four connections run the 40/15/25/20 mix closed-loop,
  *     every statement queueing on the engine's write-lock monitor;
  *   - solo: one connection runs rounds of PK SELECT, an AS OF point
  *     read below the snapshot, INSERT, an AS OF point read above it and
  *     UPDATE — per-statement service time.
  */
final class Oltp(c: Ctx) {
  import Oltp._
  private val r = c.report
  private val spark = c.spark

  // loaded rows: ids 1..n (the generator's contract)
  private val n: Long = spark.read.parquet(s"${c.dataDir}/acct.parquet").count()

  private val nextId = new AtomicLong(n + 1)
  // sequence numbers known to exist; AS OF targets are drawn below it
  private val knownSeq = new AtomicLong(0)
  // sequence of the snapshot the load left behind: AS OF targets
  // alternate between replaying below it and reading it plus its tail
  private var snapSeq = 0L
  private val inserted = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val increments = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val asofLog = mutable.ArrayBuffer.empty[AsOfRead]
  private val writesAcked = new AtomicLong(0)

  private var engine: QueryEngine = _
  private var server: PgServer = _
  private var clients: Vector[PgClient] = Vector.empty
  private var soloUniversal = Map.empty[String, Double]

  def run(): Unit = {
    // set-up: engine, bulk load, server, connections
    val t0 = System.nanoTime()
    engine = new QueryEngine(spark, s"${c.workDir}/oltp-engine")
    engine.attachExternal("acct_src", s"${c.dataDir}/acct.parquet")
    engine.sql("CREATE TABLE acct (id BIGINT PRIMARY KEY, bal BIGINT)")
    engine.sql("INSERT INTO acct SELECT id, bal FROM acct_src")
    server = new PgServer(engine, superusers = Set("bench")).start()
    clients = Vector.fill(Clients)(new PgClient(server.boundPort, "bench"))
    r.setup("load_s") = (System.nanoTime() - t0) / 1e9
    val loadedStorage = storage()
    knownSeq.set(loadedStorage("last_sequence"))
    snapSeq = loadedStorage("newest_snapshot_seq")
    r.detail("rows_loaded") = n
    r.detail("snapshots_after_load") = loadedStorage("snapshots")
    r.detail("snapshot_seq") = snapSeq

    val t1 = System.nanoTime()
    val warm = new scala.util.Random(c.seed ^ 0x5eedL)
    for (_ <- 1 to WarmupRounds; (k, below) <- SoloRound) runOp(clients(0), k, warm, below)
    r.setup("warmup_s") = (System.nanoTime() - t1) / 1e9

    val s0 = storage()
    r.setupDone()
    // The solo phase goes last: its single-statement times are the
    // figures most sensitive to how far the JIT has got, and the
    // contended phase before it runs four clients' worth of statements.
    val contended = contendedPhase(c.seconds * (1 - SoloShare))
    val s1 = storage()
    val solo = soloPhase(c.seconds * SoloShare)
    val s2 = storage()
    for ((tag, s) <- Seq("start" -> s0, "contended_end" -> s1, "solo_end" -> s2))
      r.layers(s"log.$tag") = s
    r.detail("bytes_per_write") = Map(
      "log_bytes_added" -> (s2("log_bytes") - s0("log_bytes")),
      "writes_acked" -> (solo.writes + contended.writes))
    r.layers("server.admit_wait_ms") = server.poolTelemetry.avgAdmitWaitMs
    if (c.trace) r.layers("universal") = soloUniversal ++ Map(
      "jvm.gc_ms" -> (solo.phase.gcMs + contended.phase.gcMs).toDouble,
      "jvm.heap_peak_mb" -> math.max(solo.phase.heapPeakMb, contended.phase.heapPeakMb))
    val tc = System.nanoTime()
    checks()
    r.detail("check_s") = (System.nanoTime() - tc) / 1e9
    if (c.trace) refreshProbe()
    clients.foreach(_.close())
    server.close()
    engine.close()
  }

  private def storage(): Map[String, Long] = {
    val row = engine.sql("SHOW STORAGE FOR acct").collect().head
    Seq("log_files", "log_bytes", "snapshot_files", "snapshot_bytes",
      "snapshots", "newest_snapshot_seq", "last_sequence").map { k =>
      k -> Option(row.getAs[Any](k)).fold(0L)(_.toString.toLong)
    }.toMap
  }

  // ------------------------------------------------------------ ops

  private def runOp(cl: PgClient, kind: Kind, rng: scala.util.Random,
      belowSnapshot: Boolean): (String, Double, Boolean) = {
    val k = 1 + (rng.nextDouble() * n).toLong.min(n - 1)
    kind match {
      case Pk =>
        val sql = s"SELECT id, bal FROM acct WHERE id = $k"
        val (res, ms) = timed(cl.query(sql))
        val ok = res.ok && res.rows.size == 1 && res.rows(0)(0) == k.toString
        (sql, ms, ok)
      case AsOf =>
        val (lo, hi) = if (belowSnapshot || snapSeq == 0L) (1L, math.max(1L, snapSeq))
          else (snapSeq + 1, knownSeq.get)
        val seq = lo + (rng.nextDouble() * (hi - lo + 1)).toLong.min(hi - lo)
        val sql = s"SELECT id, bal FROM acct FOR SYSTEM_TIME AS OF @SEQ:$seq WHERE id = $k"
        val (res, ms) = timed(cl.query(sql))
        val ok = res.ok && res.rows.size <= 1
        if (ok) asofLog.synchronized { asofLog += AsOfRead(sql, k, seq, res.rows) }
        (sql, ms, ok)
      case Insert =>
        val id = nextId.getAndIncrement()
        val bal = rng.nextInt(100000).toLong
        val sql = s"INSERT INTO acct VALUES ($id, $bal)"
        val (res, ms) = timed(cl.query(sql))
        val ok = res.ok && res.tag == "INSERT 0 1"
        if (ok) { inserted.put(id, bal); knownSeq.incrementAndGet(); writesAcked.incrementAndGet() }
        (sql, ms, ok)
      case Update =>
        val sql = s"UPDATE acct SET bal = bal + 1 WHERE id = $k"
        val (res, ms) = timed(cl.query(sql))
        val ok = res.ok && res.tag == "UPDATE 1"
        if (ok) { increments.merge(k, 1L, _ + _); knownSeq.incrementAndGet(); writesAcked.incrementAndGet() }
        (sql, ms, ok)
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  // ---------------------------------------------------------- solo

  private def soloPhase(seconds: Double): PhaseOut = {
    val rng = new scala.util.Random(c.seed)
    val cl = clients(0)
    val w0 = writesAcked.get
    val reader = new TraceReader(engine.tracer)
    val spans = Kinds.map(k => k -> new Sums).toMap
    val untracedRounds = mutable.ArrayBuffer.empty[Double]
    val tracedRounds = mutable.ArrayBuffer.empty[Double]
    val ph = c.phase().start()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    // traced runs alternate untraced and traced rounds, so the tracing
    // overhead is not confounded with warm-up drift
    var tracing = false
    while (System.nanoTime() < end) {
      if (c.trace) {
        tracing = !tracing
        engine.sql(if (tracing) "SET TRACE ON" else "SET TRACE OFF")
        reader.skip()
      }
      var roundMs = 0.0
      for ((kind, below) <- SoloRound) {
        if (tracing) {
          val ((sql, ms, ok), sp, _) = c.measured(runOp(cl, kind, rng, below))
          roundMs += ms
          record(kind, sql, ms, ok)
          attribute(spans(kind), kind, sql, ms, sp, reader)
        } else {
          val (sql, ms, ok) = runOp(cl, kind, rng, below)
          roundMs += ms
          record(kind, sql, ms, ok)
        }
      }
      r.units += roundMs / 1e3
      (if (tracing) tracedRounds else untracedRounds) += roundMs
    }
    ph.stop()
    if (tracing) engine.sql("SET TRACE OFF")
    r.detail("solo_seconds") = ph.wallMs / 1e3
    if (c.trace) {
      r.layers("trace.untraced_unit_ms") = untracedRounds
      r.layers("trace.traced_unit_ms") = tracedRounds
      r.layers("trace.lost") = reader.lost
      for ((kind, s) <- spans) r.layers(s"solo.${kind.name}") = layerMap(s)
      // Spark work per statement over the traced solo statements
      val ops = Kinds.map(k => spans(k).n).sum.max(1L)
      val per = Ledger.Names.map(k => k -> Kinds.map(kd => spans(kd).total(k)).sum / ops).toMap
      val wall = Kinds.map(k => spans(k).total("wall_ms")).sum
      soloUniversal = per + ("spark.core_busy" -> per("spark.task_ms") * ops / (wall * c.cores))
    }
    PhaseOut(writesAcked.get - w0, ph)
  }

  private def record(kind: Kind, sql: String, ms: Double, ok: Boolean): Unit = {
    r.sample(kind.name, ms)
    r.op(ok, sql)
  }

  /** Per-statement attribution in the traced solo rounds:
    * the engine's root span and named spans, Spark work, the parse
    * step, and — for reads, replayed in-process — the wire share and
    * the row-fetch time. */
  private def attribute(s: Sums, kind: Kind, sql: String, wireMs: Double,
      sp: Ledger.Snap, reader: TraceReader): Unit = {
    s.n += 1
    val traces = reader.drain()
    traces.headOption.foreach { t =>
      s.add("exec.stmt_ms", t.totalMs)
      s.addAll(Spans.byName(t).map { case (k, v) => s"span.$k" -> v })
    }
    sp.byName.foreach { case (k, v) => s.add(k, v.toDouble) }
    s.add("wall_ms", wireMs)
    val p0 = System.nanoTime()
    graft.sql.StatementRouter.parse(sql)
    s.add("sql.parse_ms", (System.nanoTime() - p0) / 1e6)
    if (kind == Pk || kind == AsOf) {
      // the server streams rows with toLocalIterator; so does the replay
      val t0 = System.nanoTime()
      val df = engine.sql(sql)
      val t1 = System.nanoTime()
      df.toLocalIterator().forEachRemaining(_ => ())
      val t2 = System.nanoTime()
      s.add("exec.read_exec_ms", (t2 - t1) / 1e6)
      s.add("server.wire_ms", wireMs - (t2 - t0) / 1e6)
      if (kind == AsOf) {
        val seq = sql.split("@SEQ:")(1).takeWhile(_.isDigit).toLong
        val p = System.nanoTime()
        engine.stateAt("acct", Some(seq))
        s.add("state.plan_direct_ms", (System.nanoTime() - p) / 1e6)
      }
      reader.drain() // the replay's own trace
    }
  }

  private def layerMap(s: Sums): Map[String, Double] =
    (Seq("n" -> s.n.toDouble) ++ Seq("wall_ms", "exec.stmt_ms", "sql.parse_ms",
      "exec.read_exec_ms", "server.wire_ms", "state.plan_direct_ms",
      "span.state-plan", "span.pin-batch", "span.probe-join",
      "span.stage-write", "span.publish").map(k => k -> s.mean(k)) ++
      Ledger.Names.map(k => k -> s.mean(k))).toMap

  private def phaseMap(ph: Phase, ops: Long): Map[String, Double] = Map(
    "wall_ms" -> ph.wallMs, "ops" -> ops.toDouble,
    "gc_ms" -> ph.gcMs.toDouble, "heap_peak_mb" -> ph.heapPeakMb) ++
    ph.spark.byName.map { case (k, v) => k -> v.toDouble }

  // ------------------------------------------------------ contended

  private def contendedPhase(seconds: Double): PhaseOut = {
    val w0 = writesAcked.get
    val reader = new TraceReader(engine.tracer)
    if (c.trace) { engine.sql("SET TRACE ON"); reader.skip() }
    val acked = new AtomicLong
    val clientMs = new java.util.concurrent.atomic.DoubleAdder
    val rootMs = new java.util.concurrent.atomic.DoubleAdder
    val roots = new AtomicLong
    @volatile var draining = true
    val drainer = new Thread(() => {
      while (draining) {
        reader.drain().foreach { t => rootMs.add(t.totalMs); roots.incrementAndGet() }
        Thread.sleep(250)
      }
    })
    if (c.trace) drainer.start()
    val ph = c.phase().start()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    // all clients draw from one dealer of seeded shuffled decks that
    // each hold the mix exactly, so a short phase still runs 40/15/25/20;
    // AS OF reads alternate sides of the snapshot
    val dealer = new scala.util.Random(c.seed * 31)
    var deck = List.empty[Kind]
    var asofs = 0
    def deal(): (Kind, Boolean) = dealer.synchronized {
      if (deck.isEmpty) deck = dealer.shuffle(Deck)
      val kind = deck.head
      deck = deck.tail
      if (kind == AsOf) asofs += 1
      (kind, asofs % 2 == 0)
    }
    val threads = clients.zipWithIndex.map { case (cl, i) =>
      val th = new Thread(() => {
        val rng = new scala.util.Random(c.seed * 31 + i + 1)
        while (System.nanoTime() < end) {
          val (kind, below) = deal()
          val (sql, ms, ok) = runOp(cl, kind, rng, below)
          r.sample("contended", ms)
          r.sample(s"contended.${kind.name}", ms)
          r.op(ok, sql)
          if (ok) acked.incrementAndGet()
          clientMs.add(ms)
        }
      }, s"perfbench-client-$i")
      th.start(); th
    }
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    ph.stop()
    val ops = r.lat.get("contended").fold(0)(_.size).toLong
    r.loadOps = acked.get
    r.loadSeconds = elapsed
    if (c.trace) {
      draining = false
      drainer.join()
      reader.drain().foreach { t => rootMs.add(t.totalMs); roots.incrementAndGet() }
      engine.sql("SET TRACE OFF")
      r.layers("contended.phase") = phaseMap(ph, ops) ++ Map(
        "exec.stmt_ms" -> rootMs.sum / roots.get.max(1L),
        "exec.lock_wait_ms" -> (clientMs.sum / ops - rootMs.sum / roots.get.max(1L)),
        "client_ms" -> clientMs.sum / ops,
        "trace.lost" -> reader.lost.toDouble)
    }
    PhaseOut(writesAcked.get - w0, ph)
  }

  // -------------------------------------------------- refresh probe

  /** Traced runs only, after the timed phases and their checks: the
    * incremental-refresh layer, which no timed phase reaches, measured
    * on a small two-table join view. Every round churns both tables
    * with set-based DML, refreshes the view incrementally (traced) and
    * checks the view against its defining query run from scratch; the
    * first round is a warm-up. */
  private def refreshProbe(): Unit = {
    val view = "SELECT seg, COUNT(*) AS n, SUM(v) AS sv FROM rcust JOIN rord " +
      "ON rcust.c = rord.ck GROUP BY seg"
    def rows(sql: String) = engine.sql(sql).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    engine.sql("CREATE TABLE rcust (c BIGINT PRIMARY KEY, seg STRING)")
    engine.sql("CREATE TABLE rord (o BIGINT PRIMARY KEY, ck BIGINT, v BIGINT)")
    engine.sql("INSERT INTO rcust SELECT id, 'g' || CAST(id % 5 AS STRING) " +
      s"FROM acct_src WHERE id <= $ProbeCustomers")
    engine.sql(s"INSERT INTO rord SELECT id, 1 + id % $ProbeCustomers, bal " +
      s"FROM acct_src WHERE id <= $ProbeOrders")
    engine.sql(s"CREATE MATERIALIZED VIEW rview AS $view")
    val reader = new TraceReader(engine.tracer)
    engine.sql("SET TRACE ON")
    reader.skip()
    val s = new Sums
    for (round <- 0 to ProbeRounds) {
      val lo = ProbeOrders + round * ProbeRoundOrders
      engine.sql(s"INSERT INTO rord SELECT id, 1 + id % $ProbeCustomers, bal " +
        s"FROM acct_src WHERE id > $lo AND id <= ${lo + ProbeRoundOrders}")
      engine.sql(s"UPDATE rord SET v = v + 1 WHERE o % 10 = $round")
      engine.sql(s"DELETE FROM rord WHERE o % 40 = ${10 + round}")
      engine.sql(s"UPDATE rcust SET seg = 'g' || CAST((c + $round) % 5 AS STRING) " +
        s"WHERE c % 20 = $round")
      reader.drain()
      val (_, sp, ms) = c.measured(engine.sql("REFRESH MATERIALIZED VIEW rview INCREMENTALLY"))
      val t = reader.drain().lastOption
      r.check(t.isDefined, s"refresh round $round left no trace")
      if (round > 0) {
        s.n += 1
        s.add("wall_ms", ms)
        t.foreach { t =>
          s.add("exec.stmt_ms", t.totalMs)
          s.addAll(Spans.byName(t).map { case (k, v) => s"span.$k" -> v })
        }
        sp.byName.foreach { case (k, v) => s.add(k, v.toDouble) }
      }
      val got = rows("SELECT seg, n, sv FROM rview")
      val want = rows(view)
      r.check(got == want, s"refresh round $round: view $got, from scratch $want")
    }
    engine.sql("SET TRACE OFF")
    r.layers("refresh") = s.means + ("n" -> s.n.toDouble)
  }

  // --------------------------------------------------------- checks

  private def checks(): Unit = {
    // The table against the generated rows, in one SQL pass that
    // returns only rows that differ: loaded rows missing, rows beyond
    // the load (inserts) and changed balances.
    val diff = engine.sql(
      """SELECT s.id AS src_id, a.id, a.bal, a.bal - s.bal AS delta
        |FROM acct a FULL OUTER JOIN acct_src s ON a.id = s.id
        |WHERE a.id IS NULL OR s.id IS NULL OR a.bal <> s.bal""".stripMargin)
      .collect().toSeq
    val missing = diff.filter(_.isNullAt(1)).map(_.getLong(0))
    r.check(missing.isEmpty, s"${missing.size} of $n loaded rows missing, e.g. ${missing.take(5)}")

    // every acknowledged INSERT is readable, with its value; nothing
    // else appeared beyond the loaded rows
    val above = diff.filter(_.isNullAt(0)).map(row => row.getLong(1) -> row.getLong(2)).toMap
    inserted.forEach((id, bal) =>
      r.check(above.get(id).contains(bal), s"inserted id $id reads ${above.get(id)}, want $bal"))
    above.keys.filterNot(inserted.containsKey).foreach(id =>
      r.check(ok = false, s"unacknowledged id $id present"))

    // each key's balance is its loaded value plus its acknowledged
    // increments, and keys never updated are unchanged
    val changed = diff.filter(row => !row.isNullAt(0) && !row.isNullAt(1))
      .map(row => row.getLong(1) -> row.getLong(3)).toMap
    increments.forEach((id, inc) =>
      r.check(changed.get(id).contains(inc.longValue),
        s"id $id changed by ${changed.get(id)}, want $inc"))
    changed.keys.filterNot(increments.containsKey).foreach(id =>
      r.check(ok = false, s"untouched id $id changed"))

    // a seeded sample of the AS OF reads, re-run now, returns the same
    // rows, and those rows equal an independent fold of the full event
    // history up to that sequence
    val sample = new scala.util.Random(c.seed ^ 0xa50fL).shuffle(asofLog.toSeq).take(AsOfSamples)
    if (sample.nonEmpty) {
      val keys = sample.map(_.key).distinct
      val hist = engine.sql(
        s"SELECT * FROM acct FOR SYSTEM_TIME ALL WHERE id IN (${keys.mkString(",")})")
      val cols = hist.columns.toSeq
      val events = hist.collect().toSeq.map(row => cols.zip(row.toSeq).toMap)
      for (a <- sample) {
        val again = engine.sql(a.sql).collect().map(_.toSeq.map(v => if (v == null) null else v.toString).toVector).toVector
        r.check(again == a.rows, s"${a.sql}: re-run ${again} vs first ${a.rows}")
        val folded = fold(events.filter(_("id").toString.toLong == a.key), a.seq)
        val want = folded.map(b => Vector(a.key.toString, b.toString)).toVector
        r.check(want == a.rows, s"${a.sql}: fold $want vs read ${a.rows}")
      }
    }
  }

  /** The balance of one key at `seq`, folded from its events in
    * sequence order: INSERT sets the row, PATCH changes it, SOFT_DELETE
    * removes it. */
  private def fold(events: Seq[Map[String, Any]], seq: Long): Option[Long] = {
    var state: Option[Long] = None
    events.filter(_("sequence").toString.toLong <= seq)
      .sortBy(_("sequence").toString.toLong).foreach { e =>
        e("event_type").toString match {
          case "SOFT_DELETE" => state = None
          case _ => Option(e("bal")).foreach(b => state = Some(b.toString.toLong))
        }
      }
    state
  }
}

object Oltp {
  val Clients = 4
  val WarmupRounds = 4
  val SoloShare = 0.5
  val AsOfSamples = 6
  // refresh probe: customers and orders loaded from the first generated
  // rows, measured rounds after the warm-up one, orders added per round
  val ProbeCustomers = 200
  val ProbeOrders = 2000
  val ProbeRounds = 3
  val ProbeRoundOrders = 40

  sealed abstract class Kind(val name: String)
  case object Pk extends Kind("pk_read")
  case object AsOf extends Kind("asof_read")
  case object Insert extends Kind("insert")
  case object Update extends Kind("update")
  val Kinds: Seq[Kind] = Seq(Pk, AsOf, Insert, Update)
  /** One solo round: each statement kind once, and an AS OF read on
    * each side of the load's snapshot (true = below it). */
  val SoloRound: Seq[(Kind, Boolean)] = Seq(Pk -> false, AsOf -> true,
    Insert -> false, AsOf -> false, Update -> false)
  /** The contended mix, 40% PK / 15% AS OF / 25% INSERT / 20% UPDATE. */
  val Deck: List[Kind] =
    List.fill(8)(Pk) ++ List.fill(3)(AsOf) ++ List.fill(5)(Insert) ++ List.fill(4)(Update)

  final case class PhaseOut(writes: Long, phase: Phase)
  final case class AsOfRead(sql: String, key: Long, seq: Long, rows: Vector[Vector[String]])
}
