package graft.exec

import graft.TestSpark
import graft.sql.IncrementalView
import org.scalatest.funsuite.AnyFunSuite

/** Incremental maintenance of two-table equi-join views: the merged
  * view must equal a from-scratch recomputation after every DML batch
  * on EITHER side — the three-term counting delta (ΔA⋈B_new +
  * A_new⋈ΔB − ΔA⋈ΔB) is exact under arbitrary inserts, updates and
  * deletes, including pre-horizon churn, because every aggregate in
  * the join shape is retractable.
  */
class IncrementalJoinViewSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkTables(e: QueryEngine): Unit = {
    e.sql("CREATE TABLE ord (k BIGINT PRIMARY KEY, status STRING)")
    e.sql("CREATE TABLE item (i BIGINT PRIMARY KEY, ok BIGINT, qty BIGINT)")
  }

  // the from-scratch aggregate over current state, via the engine's
  // own multi-table SQL; AVG stated as SUM/COUNT (the view's storage
  // contract — one division of exact accumulators)
  private def fresh(e: QueryEngine): Set[String] =
    e.sql("""SELECT status, COUNT(*) AS n, COUNT(qty) AS nq,
            |       SUM(qty) AS sq, SUM(qty) / COUNT(qty) AS aq
            |FROM ord JOIN item ON ord.k = item.ok
            |WHERE qty IS NULL OR qty < 900
            |GROUP BY status""".stripMargin)
      .collect().map(_.toString).toSet

  private def view(e: QueryEngine): Set[String] =
    e.sql("SELECT status, n, nq, sq, aq FROM jv")
      .collect().map(_.toString).toSet

  private def createView(e: QueryEngine): Unit =
    e.sql("""CREATE MATERIALIZED VIEW jv AS
            |SELECT status, COUNT(*) AS n, COUNT(qty) AS nq,
            |       SUM(qty) AS sq, AVG(qty) AS aq
            |FROM ord JOIN item ON ord.k = item.ok
            |WHERE qty IS NULL OR qty < 900
            |GROUP BY status""".stripMargin)

  test("join view: incremental equals full recompute across DML on both sides") {
    val e = QueryEngine.scratch(spark)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'new'), (2,'new'), (3,'vip')")
    e.sql("INSERT INTO item VALUES (10,1,5), (11,1,7), (12,2,NULL), (13,3,950), (14,3,2)")
    createView(e)
    assert(view(e) === fresh(e))
    assert(!e.sql("SELECT * FROM jv").columns.exists(_.startsWith("__graft_")))

    // round 1: inserts on both sides, incl. a dangling item (no order)
    e.sql("INSERT INTO ord VALUES (4,'new')")
    e.sql("INSERT INTO item VALUES (15,4,3), (16,99,8)")
    val r1 = e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY").collect().head
    assert(r1.getString(0) === "refreshed_incremental")
    assert(view(e) === fresh(e))

    // round 2: PRE-horizon churn on the dimension side — a status move
    // re-groups every joined pair of that order; no gate applies
    e.sql("UPDATE ord SET status = 'vip' WHERE k = 1")
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e) === fresh(e))

    // round 3: pre-horizon churn on the fact side — value updates, a
    // NULL transition, a WHERE boundary crossing (950 -> 5 moves IN)
    e.sql("UPDATE item SET qty = 9 WHERE i = 10")
    e.sql("UPDATE item SET qty = NULL WHERE i = 11")
    e.sql("UPDATE item SET qty = 5 WHERE i = 13")
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e) === fresh(e))

    // round 4: BOTH sides touched in one window — the ΔA⋈ΔB correction
    // term is what keeps the doubled pairs out
    e.sql("UPDATE ord SET status = 'gone' WHERE k = 2")
    e.sql("UPDATE item SET qty = 1 WHERE i = 12")
    e.sql("INSERT INTO item VALUES (17,2,4)")
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e) === fresh(e))

    // round 5: deletes retract joined pairs; an emptied group vanishes
    e.sql("DELETE FROM item WHERE ok = 2")
    e.sql("DELETE FROM ord WHERE k = 2")
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    val after = view(e)
    assert(after === fresh(e))
    assert(!after.exists(_.startsWith("[gone,")), "emptied group must vanish")

    // no-op refresh leaves the view identical
    val before = view(e)
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e) === before)
    e.close()
  }

  test("join view: one-side-only deltas and full-refresh re-anchoring") {
    val e = QueryEngine.scratch(spark)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'a'), (2,'b')")
    e.sql("INSERT INTO item VALUES (10,1,5), (11,2,7)")
    createView(e)
    // only the fact side moves
    e.sql("INSERT INTO item VALUES (12,1,2), (13,1,NULL)")
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e) === fresh(e))
    // only the dimension side moves
    e.sql("INSERT INTO ord VALUES (3,'a')")
    e.sql("UPDATE ord SET status = 'b' WHERE k = 1")
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e) === fresh(e))
    // a full REFRESH re-anchors BOTH horizons; incremental continues
    e.sql("INSERT INTO item VALUES (14,3,4)")
    e.sql("REFRESH MATERIALIZED VIEW jv")
    assert(view(e) === fresh(e))
    e.sql("DELETE FROM item WHERE i = 10")
    e.sql("UPDATE ord SET status = 'a' WHERE k = 1")
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e) === fresh(e))
    e.close()
  }

  test("join view: horizons persist across reopen") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jivm-").toString
    val e = new QueryEngine(spark, dir)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'a')")
    e.sql("INSERT INTO item VALUES (10,1,5)")
    createView(e)
    e.close()
    val e2 = new QueryEngine(spark, dir)
    e2.sql("INSERT INTO ord VALUES (2,'b')")
    e2.sql("INSERT INTO item VALUES (11,2,3), (12,1,1)")
    e2.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    assert(view(e2) === fresh(e2))
    e2.close()
  }

  test("join-shape parser accepts the maintainable form and rejects the rest") {
    import IncrementalView.{parse, Shape}
    // (view SQL, None = not maintainable, or a check on the shape)
    def ok(check: Shape => Boolean): Option[Shape => Boolean] = Some(check)
    val any = ok(_ => true)
    val no: Option[Shape => Boolean] = None
    val chain5 = "SELECT s, COUNT(*) AS n FROM a JOIN b ON a.x = b.y " +
      "JOIN c ON c.u = b.z JOIN d ON d.u = c.z JOIN e ON e.u = d.z "
    val chain8 = chain5 +
      "JOIN f ON f.u = e.z JOIN g ON g.u = f.z JOIN h ON h.u = g.z "
    val cases: Seq[(String, Option[Shape => Boolean])] = Seq(
      // a `t JOIN u` text is the two-table chain
      "SELECT grp, COUNT(*) AS n FROM t JOIN u ON t.k = u.k GROUP BY grp" ->
        ok(_.tables == Seq("t", "u")),
      "SELECT status, COUNT(*) AS n, SUM(qty) AS sq\n" +
        "FROM ord JOIN item ON ord.k = item.ok\n" +
        "WHERE qty < 9 GROUP BY status" ->
        ok(s => s.tables == Seq("ord", "item") &&
          s.links == Seq(("ord", "k", "item", "ok")) &&
          s.where.contains("qty < 9") && s.aggs.size == 2),
      // ON qualifiers in swapped order keep each side's key column
      "SELECT s, COUNT(*) AS n FROM a JOIN b ON b.y = a.x GROUP BY s" ->
        ok(_.links == Seq(("b", "y", "a", "x"))),
      // chains: each ON must link the NEW table to one EARLIER table
      "SELECT s, COUNT(*) AS n FROM a JOIN b ON a.x = b.y " +
        "JOIN c ON b.z = c.w GROUP BY s" ->
        ok(s => s.tables == Seq("a", "b", "c") &&
          s.onExprs == Seq("a.x = b.y", "b.z = c.w")),
      // a snowflake link back to the FIRST table also qualifies
      "SELECT s, SUM(v) AS sv FROM a JOIN b ON a.x = b.y " +
        "JOIN c ON c.w = a.z GROUP BY s" -> any,
      // a link to an UNKNOWN table does not
      "SELECT s, COUNT(*) AS n FROM a JOIN b ON a.x = b.y " +
        "JOIN c ON c.w = d.z GROUP BY s" -> no,
      // a dotted name cannot be a join alias
      "SELECT s, COUNT(*) AS n FROM app.a JOIN b ON a.x = b.y GROUP BY s" -> no,
      // five to eight tables are maintainable (round 17 made term
      // construction scale with TOUCHED tables, round 18 raised the
      // cap to 8 after retiring the per-term old-horizon scans); nine
      // exceed the cap
      chain5 + "GROUP BY s" -> ok(_.tables.size == 5),
      chain5 + "JOIN f ON f.u = e.z GROUP BY s" -> ok(_.tables.size == 6),
      chain8 + "GROUP BY s" -> ok(_.tables.size == 8),
      chain8 + "JOIN i ON i.u = h.z GROUP BY s" -> no,
      "SELECT s, COUNT(*) AS n FROM a JOIN b ON a.x = b.y " +
        "JOIN c ON c.u = b.z JOIN d ON d.u = c.z GROUP BY s" -> any,
      // INNER JOIN keyword form
      "SELECT s, AVG(v) AS av FROM a INNER JOIN b ON a.x = b.y GROUP BY s" ->
        any,
      // MIN/MAX are aux-frame-backed (round 15), hence retractable and
      // admitted; APPROX_COUNT_DISTINCT is admitted too — the refresh
      // probes the delta for any negative-signed sketch value (NOT net
      // support, which would admit phantoms) to dispatch union vs
      // recompute
      "SELECT s, MAX(v) AS m FROM a JOIN b ON a.x = b.y GROUP BY s" -> any,
      "SELECT s, APPROX_COUNT_DISTINCT(v) AS d FROM a " +
        "JOIN b ON a.x = b.y GROUP BY s" -> ok(_.hasSketch),
      // self-joins, qualified group cols, foreign ON qualifiers
      "SELECT s, COUNT(*) AS n FROM a JOIN a ON a.x = a.y GROUP BY s" -> no,
      "SELECT a.s, COUNT(*) AS n FROM a JOIN b ON a.x = b.y GROUP BY a.s" -> no,
      "SELECT s, COUNT(*) AS n FROM a JOIN b ON a.x = c.y GROUP BY s" -> no,
      // COUNT/SUM/AVG(DISTINCT) are retractable (aux frame) — allowed
      // in joins; the MIN/MAX(DISTINCT) spellings are not
      "SELECT s, SUM(DISTINCT v) AS n FROM a JOIN b ON a.x = b.y GROUP BY s" ->
        any,
      "SELECT s, MIN(DISTINCT v) AS n FROM a JOIN b ON a.x = b.y GROUP BY s" ->
        no,
      "SELECT s, COUNT(DISTINCT v) AS n FROM a JOIN b ON a.x = b.y GROUP BY s" ->
        any,
      // a LEFT JOIN is not the maintainable inner-join shape
      "SELECT s, COUNT(*) AS n FROM a LEFT JOIN b ON a.x = b.y GROUP BY s" -> no)
    for ((sql, want) <- cases) want match {
      case None => assert(parse(sql).isEmpty, sql)
      case Some(check) => assert(parse(sql).exists(check), sql)
    }
  }

  test("SHOW MATERIALIZED VIEWS reports kind, horizons and staleness") {
    val e = QueryEngine.scratch(spark)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'a'), (2,'b')")
    e.sql("INSERT INTO item VALUES (10,1,5)")
    createView(e) // incremental_join over ord+item
    e.sql("""CREATE MATERIALIZED VIEW sv AS
            |SELECT status, COUNT(*) AS n FROM ord GROUP BY status""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW fv AS
            |SELECT status FROM ord WHERE k = 1 GROUP BY status, k""".stripMargin)
    def rows(): Map[String, (Long, String, Option[String], Option[Long])] =
      e.sql("SHOW MATERIALIZED VIEWS").collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getString(2),
          Option(r.getString(4)),
          if (r.isNullAt(6)) None else Some(r.getLong(6))))
      }.toMap
    val r0 = rows()
    assert(r0("jv")._2 === "incremental_join")
    assert(r0("jv")._3.contains("item,ord"))
    assert(r0("jv")._4.contains(0L), "fresh view must report 0 stale events")
    assert(r0("sv")._2 === "incremental")
    assert(r0("fv")._2 === "full_rerun" && r0("fv")._3.isEmpty)
    // churn both bases: staleness counts appended events across sides
    e.sql("INSERT INTO ord VALUES (3,'a')")
    e.sql("INSERT INTO item VALUES (11,3,2), (12,1,4)")
    val r1 = rows()
    assert(r1("jv")._4.contains(2L), s"item gained 2 events: ${r1("jv")}")
    assert(r1("sv")._4.contains(1L))
    e.sql("REFRESH MATERIALIZED VIEW jv INCREMENTALLY")
    val r2 = rows()
    assert(r2("jv")._4.contains(0L) && r2("jv")._1 === 1L,
      "refresh must bump the version and zero the staleness")
    assert(r2("sv")._4.contains(1L), "other views keep their staleness")
    // a dropped base makes staleness unknowable — NULL, never negative
    e.sql("DROP TABLE item")
    val r3 = rows()
    assert(r3("jv")._4.isEmpty, s"dropped base must blank staleness: ${r3("jv")}")
    assert(r3("sv")._4.contains(1L))
    e.close()
  }

  test("3-way join view: incremental equals full recompute under churn on all sides") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE reg (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE cust (c BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE sale (s BIGINT PRIMARY KEY, ck BIGINT, v BIGINT)")
    e.sql("INSERT INTO reg VALUES (1,'east'), (2,'west')")
    e.sql("INSERT INTO cust VALUES (10,1,'a'), (11,1,'b'), (12,2,'a')")
    e.sql("INSERT INTO sale VALUES (100,10,5), (101,11,7), (102,12,NULL), (103,10,2)")
    e.sql("""CREATE MATERIALIZED VIEW j3 AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv, AVG(v) AS av
            |FROM reg JOIN cust ON reg.r = cust.rk
            |JOIN sale ON cust.c = sale.ck
            |WHERE v IS NULL OR v < 900
            |GROUP BY zone, seg""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv,
              |       SUM(v) / COUNT(v) AS av
              |FROM reg JOIN cust ON reg.r = cust.rk
              |JOIN sale ON cust.c = sale.ck
              |WHERE v IS NULL OR v < 900
              |GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet
    def v3(): Set[String] =
      e.sql("SELECT zone, seg, n, sv, av FROM j3").collect().map(_.toString).toSet
    assert(v3() === fresh())

    // churn ALL THREE levels in one window: a zone rename re-groups
    // every transitive pair (reg Δ term), a customer re-segments and
    // re-parents (middle Δ), sales churn (leaf Δ), plus inserts — the
    // telescoping terms (Δreg, reg_old⋈Δcust, …⋈Δsale) all fire
    e.sql("INSERT INTO reg VALUES (3,'north')")
    e.sql("INSERT INTO cust VALUES (13,3,'c')")
    e.sql("INSERT INTO sale VALUES (104,13,9), (105,12,950)")
    e.sql("UPDATE reg SET zone = 'far-west' WHERE r = 2")
    e.sql("UPDATE cust SET seg = 'b', rk = 2 WHERE c = 10")
    e.sql("UPDATE sale SET v = 6 WHERE s = 101")
    e.sql("DELETE FROM sale WHERE s = 103")
    val r = e.sql("REFRESH MATERIALIZED VIEW j3 INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(v3() === fresh())

    // delete a middle-level row: its transitive pairs retract
    e.sql("DELETE FROM cust WHERE c = 11")
    e.sql("REFRESH MATERIALIZED VIEW j3 INCREMENTALLY")
    assert(v3() === fresh())

    // one-side-only window at the deepest level
    e.sql("UPDATE sale SET v = NULL WHERE s = 100")
    e.sql("REFRESH MATERIALIZED VIEW j3 INCREMENTALLY")
    assert(v3() === fresh())
    e.close()
  }

  test("a mid-refresh source failure tears down the concurrent cascade cleanly") {
    // The multi-touched refresh runs its per-source cascades, its
    // touched-key collects AND its per-term materializations
    // concurrently on the probe pool; this drives one source's
    // collect into a read failure MID-refresh (the other sources'
    // jobs are in flight) and proves the teardown: the failure
    // surfaces on the statement thread, sibling tasks settle, no
    // stale state wedges the engine, and after repairing the file
    // the SAME refresh retries to the exact recomputed content.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE reg (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE cust (c BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE sale (s BIGINT PRIMARY KEY, ck BIGINT, v BIGINT)")
    e.sql("INSERT INTO reg VALUES (1,'east'), (2,'west')")
    e.sql("INSERT INTO cust VALUES (10,1,'a'), (11,1,'b'), (12,2,'a')")
    e.sql("INSERT INTO sale VALUES (100,10,5), (101,11,7), (102,12,3)")
    e.sql("""CREATE MATERIALIZED VIEW jf AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
            |FROM reg JOIN cust ON reg.r = cust.rk
            |JOIN sale ON cust.c = sale.ck
            |GROUP BY zone, seg""".stripMargin)
    // churn ALL THREE sides so every parallel path engages
    e.sql("INSERT INTO reg VALUES (3,'north')")
    e.sql("UPDATE cust SET seg = 'b' WHERE c = 12")
    e.sql("INSERT INTO sale VALUES (103,12,9)")
    e.sql("DELETE FROM sale WHERE s = 101")
    // corrupt one MIDDLE source's log mid-byte (the q_repair scenario's
    // corruption): its probe-pool reads now throw while siblings run
    import scala.jdk.CollectionConverters._
    val log = java.nio.file.Paths.get(e.baseDir, "tables", "cust", "log")
    val part = java.nio.file.Files.list(log).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sorted.head
    val orig = java.nio.file.Files.readAllBytes(part)
    java.nio.file.Files.write(part, orig.take(orig.length / 2))
    // the refresh runs under its own job group so its jobs — the
    // forked ones included — can be told apart from everything else
    val jobs = graft.GroupJobs(spark, "jf-mid-refresh")
    val sc = spark.sparkContext
    // RDD ids grow monotonically: anything the refresh persisted has a
    // larger id than this probe RDD
    val idFloor = sc.emptyRDD[Int].id
    sc.setJobGroup(jobs.group, "failing refresh")
    try intercept[Throwable] {
      e.sql("REFRESH MATERIALIZED VIEW jf INCREMENTALLY").collect()
    } finally sc.clearJobGroup()
    val failedAt = System.currentTimeMillis()
    try {
      jobs.sync()
      // no job of the failed refresh is still running, and none ended
      // later than a moment after the failure surfaced
      assert(jobs.running.isEmpty, s"refresh jobs still running: ${jobs.running}")
      jobs.ended.values.asScala.foreach { case (time, _) =>
        assert(time <= failedAt + 1000L, s"a job ended ${time - failedAt} ms late")
      }
    } finally jobs.close()
    // none of its cached refresh frames survive
    val leaked = sc.getPersistentRDDs.keys.filter(_ > idFloor)
    assert(leaked.isEmpty, s"refresh frames still cached: $leaked")
    // and no staging dir is left under the base dir
    val staging = java.nio.file.Files.walk(java.nio.file.Paths.get(e.baseDir))
      .iterator().asScala.filter(_.getFileName.toString.startsWith(".txn-staging-"))
      .toList
    assert(staging.isEmpty, staging)
    // the engine is not wedged: other tables still serve
    assert(e.sql("SELECT COUNT(*) AS n FROM reg").collect()
      .head.getLong(0) === 3L)
    // repair, retry the SAME refresh (horizons never advanced), and
    // the view must equal a from-scratch recompute
    java.nio.file.Files.write(part, orig)
    val r = e.sql("REFRESH MATERIALIZED VIEW jf INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(e.sql("SELECT zone, seg, n, sv FROM jf").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
              |FROM reg JOIN cust ON reg.r = cust.rk
              |JOIN sale ON cust.c = sale.ck
              |GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet)
    e.close()
  }

  test("AUTOREFRESH keeps views fresh after every mutating statement") {
    val e = QueryEngine.scratch(spark)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'a'), (2,'b')")
    e.sql("INSERT INTO item VALUES (10,1,5), (11,2,7)")
    createView(e)
    e.sql("""CREATE MATERIALIZED VIEW sv AS
            |SELECT status, COUNT(*) AS n FROM ord GROUP BY status""".stripMargin)
    e.sql("ALTER MATERIALIZED VIEW jv SET AUTOREFRESH ON")
    e.sql("ALTER MATERIALIZED VIEW sv SET AUTOREFRESH ON")
    def stale(): Map[String, Long] =
      e.sql("SHOW MATERIALIZED VIEWS").collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(6)) -1L else r.getLong(6)))
        .toMap
    // every mutating statement leaves both views fresh — no explicit
    // REFRESH anywhere below
    e.sql("INSERT INTO item VALUES (12,1,3), (13,2,NULL)")
    assert(view(e) === fresh(e))
    assert(stale() === Map("jv" -> 0L, "sv" -> 0L))
    e.sql("UPDATE ord SET status = 'c' WHERE k = 1")
    assert(view(e) === fresh(e))
    e.sql("DELETE FROM item WHERE i = 10")
    assert(view(e) === fresh(e))
    // buffered transactional DML refreshes only after COMMIT publishes
    val other = e.newSession()
    other.sql("BEGIN")
    other.sql("INSERT INTO ord VALUES (9,'z')")
    assert(stale()("sv") === 0L, "uncommitted write must not refresh")
    other.sql("COMMIT")
    assert(stale() === Map("jv" -> 0L, "sv" -> 0L),
      "COMMIT must land the auto refresh")
    assert(view(e) === fresh(e))
    // OFF: staleness accrues again
    e.sql("ALTER MATERIALIZED VIEW jv SET AUTOREFRESH OFF")
    e.sql("INSERT INTO item VALUES (14,2,1)")
    assert(stale()("jv") === 1L)
    assert(stale()("sv") === 0L)
    // a MIN/MAX join view is retractable since round 15 — flaggable
    e.sql("""CREATE MATERIALIZED VIEW mm AS
            |SELECT status, MAX(qty) AS m
            |FROM item JOIN ord ON ord.k = item.ok GROUP BY status""".stripMargin)
    e.sql("ALTER MATERIALIZED VIEW mm SET AUTOREFRESH ON")
    e.sql("INSERT INTO item VALUES (15,2,999)")
    assert(e.sql("SELECT m FROM mm ORDER BY m DESC").collect().head.getLong(0)
      === 999L, "MIN/MAX join view must autorefresh")
    // an APPROX_COUNT_DISTINCT view is flaggable since round 15 (a
    // retraction dispatches to the touched-group sketch recompute
    // instead of refusing); a full-rerun view still is not
    e.sql("""CREATE MATERIALIZED VIEW acdv AS
            |SELECT ok, APPROX_COUNT_DISTINCT(qty) AS d
            |FROM item GROUP BY ok""".stripMargin)
    e.sql("ALTER MATERIALIZED VIEW acdv SET AUTOREFRESH ON")
    e.sql("INSERT INTO item VALUES (16,2,7), (17,2,7)")
    assert(e.sql("SELECT d FROM acdv WHERE ok = 2").collect().head.getLong(0)
      === e.sql(
        """SELECT CAST(hll_sketch_estimate(hll_sketch_agg(qty)) AS BIGINT)
          |FROM item WHERE ok = 2""".stripMargin).collect().head.getLong(0),
      "ACD view must autorefresh")
    // a genuinely full-rerun shape (MAX(DISTINCT) spelling) is not
    // flaggable
    e.sql("""CREATE MATERIALIZED VIEW fr AS
            |SELECT status, MAX(DISTINCT qty) AS m
            |FROM item JOIN ord ON ord.k = item.ok
            |GROUP BY status""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      e.sql("ALTER MATERIALIZED VIEW fr SET AUTOREFRESH ON")
    }
    assert(err.getMessage.contains("AUTOREFRESH"), err.getMessage)
    e.close()
  }

  test("AUTOREFRESH EVERY n EVENTS debounces the due check") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10)")
    e.sql("""CREATE MATERIALIZED VIEW dv AS
            |SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM t GROUP BY grp""".stripMargin)
    e.sql("ALTER MATERIALIZED VIEW dv SET AUTOREFRESH ON EVERY 3 EVENTS")
    def stale(): Long = {
      val r = e.sql("SHOW MATERIALIZED VIEWS").collect()
        .find(_.getString(0) == "dv").get
      if (r.isNullAt(6)) -1L else r.getLong(6)
    }
    def n(): Long =
      e.sql("SELECT SUM(n) AS s FROM dv").collect().head.getLong(0)
    // a hot single-row loop: events 1 and 2 accrue staleness without
    // paying the refresh; event 3 crosses the threshold and refreshes
    e.sql("INSERT INTO t VALUES (2,'a',20)")
    assert(stale() === 1L, "below threshold: no refresh")
    assert(n() === 1L)
    e.sql("INSERT INTO t VALUES (3,'b',5)")
    assert(stale() === 2L, "still below threshold")
    e.sql("INSERT INTO t VALUES (4,'b',6)")
    assert(stale() === 0L, "threshold reached: refreshed")
    assert(n() === 4L)
    // a single statement landing >= n events crosses immediately
    e.sql("INSERT INTO t VALUES (5,'a',1), (6,'a',2), (7,'a',3)")
    assert(stale() === 0L)
    assert(n() === 7L)
    // SHOW surfaces the threshold; OFF clears it; EVERY with OFF and
    // EVERY 0 are rejected
    val row = e.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "dv").get
    assert(row.getLong(8) === 3L)
    e.sql("ALTER MATERIALIZED VIEW dv SET AUTOREFRESH OFF")
    assert(e.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "dv").get.isNullAt(8))
    intercept[IllegalArgumentException] {
      e.sql("ALTER MATERIALIZED VIEW dv SET AUTOREFRESH OFF EVERY 2 EVENTS")
    }
    intercept[IllegalArgumentException] {
      e.sql("ALTER MATERIALIZED VIEW dv SET AUTOREFRESH ON EVERY 0 EVENTS")
    }
    // the threshold persists across reopen
    e.sql("ALTER MATERIALIZED VIEW dv SET AUTOREFRESH ON EVERY 5 EVENTS")
    val base = e.baseDir
    e.close()
    val e2 = new QueryEngine(spark, base)
    assert(e2.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "dv").get.getLong(8) === 5L)
    e2.close()
  }

  test("AUTOREFRESH runs as a system session under the privilege gate") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10)")
    e.sql("""CREATE MATERIALIZED VIEW av AS
            |SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM t GROUP BY grp""".stripMargin)
    e.sql("ALTER MATERIALIZED VIEW av SET AUTOREFRESH ON")
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT INSERT, SELECT ON t TO alice")
    val alice = e.newSession(); alice.setAuth("alice")
    // alice cannot REFRESH herself under the gate, but her INSERT must
    // still land the auto refresh (system-session execution — the flag
    // was superuser-authorized at ALTER time)
    alice.sql("INSERT INTO t VALUES (2,'a',20), (3,'b',5)")
    assert(e.sql("SELECT grp, n, sv FROM av ORDER BY grp")
      .collect().map(_.toString).toSeq === Seq("[a,2,30]", "[b,1,5]"))
    // and a non-superuser cannot flip the flag
    val err = intercept[SecurityException] {
      alice.sql("ALTER MATERIALIZED VIEW av SET AUTOREFRESH OFF")
    }
    assert(err.getMessage.contains("superuser"))
    e.close()
  }

  test("a dropped-and-recreated base raises toward full REFRESH, never no-ops") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',20), (3,'b',5)")
    e.sql("""CREATE MATERIALIZED VIEW rv AS
            |SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM t GROUP BY grp""".stripMargin)
    e.sql("DROP TABLE t")
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (9,'z',1)")
    // the recreated counter (1) sits below the horizon (3): the view's
    // content refers to a table that no longer exists — INCREMENTALLY
    // must raise, not silently no-op over stale data
    val err = intercept[IllegalStateException] {
      e.sql("REFRESH MATERIALIZED VIEW rv INCREMENTALLY")
    }
    assert(err.getMessage.contains("dropped and recreated"), err.getMessage)
    // staleness is unknowable, never negative
    val row = e.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "rv").get
    assert(row.isNullAt(6), s"staleness must be NULL: $row")
    // full REFRESH re-anchors; incremental then resumes
    e.sql("REFRESH MATERIALIZED VIEW rv")
    e.sql("INSERT INTO t VALUES (10,'z',2)")
    e.sql("REFRESH MATERIALIZED VIEW rv INCREMENTALLY")
    assert(e.sql("SELECT grp, n, sv FROM rv").collect().map(_.toString).toSeq
      === Seq("[z,2,3]"))
    e.close()
  }

  test("a failing AUTOREFRESH mutes until an explicit REFRESH recovers it") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10)")
    e.sql("""CREATE MATERIALIZED VIEW fv AS
            |SELECT grp, COUNT(*) AS n FROM t GROUP BY grp""".stripMargin)
    def failedCount(): Long =
      e.sql("SHOW METRICS").collect()
        .find(_.getString(0) == "autorefresh_failed").get.getLong(1)
    // let the horizon (1) lag, then vacuum past it BEFORE enabling the
    // flag: the first due auto refresh cannot merge and fails
    e.sql("INSERT INTO t VALUES (2,'b',20)")
    e.sql("SNAPSHOT t")
    e.sql("VACUUM t RETAIN @SEQ:2") // floor 2 > horizon 1
    e.sql("ALTER MATERIALIZED VIEW fv SET AUTOREFRESH ON")
    e.sql("INSERT INTO t VALUES (3,'c',30)") // auto refresh fails -> muted
    val f1 = failedCount()
    assert(f1 >= 1L, "the vacuumed-horizon refresh must be counted as failed")
    // muted: later statements do NOT re-attempt the doomed refresh,
    // and the staleness dashboard says so
    e.sql("INSERT INTO t VALUES (4,'c',40)")
    assert(failedCount() === f1, "muted view must not re-fail per statement")
    assert(e.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "fv").exists(_.getBoolean(7)),
      "SHOW must report the mute")
    // the documented recovery: explicit full REFRESH un-mutes
    e.sql("REFRESH MATERIALIZED VIEW fv")
    e.sql("INSERT INTO t VALUES (5,'d',50)")
    assert(failedCount() === f1)
    assert(e.sql("SELECT grp, n FROM fv ORDER BY grp").collect().map(_.toString).toSeq
      === Seq("[a,1]", "[b,1]", "[c,2]", "[d,1]"),
      "after recovery the view auto-refreshes again")
    e.close()
  }

  test("streaming ingest batches keep AUTOREFRESH views fresh") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE s (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO s VALUES (1,'a',10)")
    e.sql("""CREATE MATERIALIZED VIEW sv AS
            |SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM s GROUP BY grp""".stripMargin)
    e.sql("ALTER MATERIALIZED VIEW sv SET AUTOREFRESH ON")
    import spark.implicits._
    val b1 = Seq((2L, "a", 20L), (3L, "b", 5L)).toDF("k", "grp", "v")
    e.ingestStream("s", b1, Some("ckpt-av"), 0L)
    assert(e.sql("SELECT grp, n, sv FROM sv ORDER BY grp")
      .collect().map(_.toString).toSeq === Seq("[a,2,30]", "[b,1,5]"),
      "micro-batch must land the auto refresh")
    // a REPLAYED batch advances nothing and must not churn the view
    val v0 = e.catalog.mviewVersion("sv")
    e.ingestStream("s", b1, Some("ckpt-av"), 0L)
    assert(e.catalog.mviewVersion("sv") === v0, "replay must not re-refresh")
    e.close()
  }

  test("AUTOREFRESH flag persists across reopen") {
    val dir = java.nio.file.Files.createTempDirectory("graft-amv-").toString
    val e = new QueryEngine(spark, dir)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'a')")
    e.sql("INSERT INTO item VALUES (10,1,5)")
    createView(e)
    e.sql("ALTER MATERIALIZED VIEW jv SET AUTOREFRESH ON")
    e.close()
    val e2 = new QueryEngine(spark, dir)
    e2.sql("INSERT INTO item VALUES (11,1,2)")
    assert(view(e2) === fresh(e2))
    assert(e2.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "jv").exists(_.getLong(6) == 0L))
    e2.close()
  }

  test("REFRESH ALL MATERIALIZED VIEWS refreshes every view, falling back per view") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'b',20)")
    e.sql("""CREATE MATERIALIZED VIEW r_inc AS
            |SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM t GROUP BY grp""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW r_mm AS
            |SELECT grp, MAX(v) AS m FROM t GROUP BY grp""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW r_full AS
            |SELECT grp FROM t WHERE k = 1 GROUP BY grp, k""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW r_acd AS
            |SELECT grp, APPROX_COUNT_DISTINCT(v) AS d FROM t GROUP BY grp""".stripMargin)
    // churn incl. a PRE-horizon update: since round 15 r_mm's MIN/MAX
    // retract through the aux frame, and r_acd's retraction dispatches
    // to the touched-group sketch recompute — every maintainable view
    // merges incrementally; only the full-rerun shape reruns
    e.sql("INSERT INTO t VALUES (3,'a',5)")
    e.sql("UPDATE t SET v = 99 WHERE k = 1")
    val ops = e.sql("REFRESH ALL MATERIALIZED VIEWS INCREMENTALLY")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ops === Map("r_inc" -> "refreshed_incremental",
      "r_mm" -> "refreshed_incremental",
      "r_acd" -> "refreshed_incremental", "r_full" -> "refreshed"), ops)
    assert(e.sql("SELECT grp, d FROM r_acd ORDER BY grp")
      .collect().map(_.toString).toSeq === Seq("[a,2]", "[b,1]"),
      "retracted 10 must leave {99,5} for a")
    assert(e.sql("SELECT grp, n, sv FROM r_inc ORDER BY grp")
      .collect().map(_.toString).toSeq === Seq("[a,2,104]", "[b,1,20]"))
    assert(e.sql("SELECT grp, m FROM r_mm ORDER BY grp")
      .collect().map(_.toString).toSeq === Seq("[a,99]", "[b,20]"))
    // the plain form full-refreshes everything
    e.sql("DELETE FROM t WHERE k = 2")
    val ops2 = e.sql("REFRESH ALL MATERIALIZED VIEWS")
      .collect().map(_.getString(1)).toSet
    assert(ops2 === Set("refreshed"))
    assert(e.sql("SELECT grp, n FROM r_inc").collect().map(_.toString).toSeq
      === Seq("[a,2]"))
    e.close()
  }

  test("3-way refresh prunes full sides transitively (cascaded key pushdown)") {
    // a one-row delta on the chain's FIRST table must restrict BOTH
    // downstream full sides: the cascade pushes the delta's keys one
    // hop (nation pruned to the touched region's key), collects the
    // restricted frame's keys, and pushes them a second hop (customer
    // pruned to those nations) — at 100 TB the difference between a
    // point refresh and re-scanning every partner per term. Snapshots
    // flatten the state reads, so the In(...) restrictions surface as
    // parquet pushdown in the executed plan.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE rg (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE nt (n BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE cs (c BIGINT PRIMARY KEY, nk BIGINT, v BIGINT)")
    e.sql("INSERT INTO rg VALUES (1,'e'), (2,'w')")
    e.sql("INSERT INTO nt VALUES (10,1,'a'), (11,1,'b'), (12,2,'a')")
    e.sql("INSERT INTO cs VALUES (100,10,5), (101,11,7), (102,12,9), (103,10,2)")
    Seq("rg", "nt", "cs").foreach(t => e.sql(s"SNAPSHOT $t"))
    e.sql("""CREATE MATERIALIZED VIEW pv AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
            |FROM rg JOIN nt ON rg.r = nt.rk JOIN cs ON nt.n = cs.nk
            |GROUP BY zone, seg""".stripMargin)
    e.sql("UPDATE rg SET zone = 'n' WHERE r = 1") // touch ONLY the head
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      e.sql("REFRESH MATERIALIZED VIEW pv INCREMENTALLY")
      // the listener fires asynchronously — poll for the write plan
      val deadline = System.nanoTime() + 15_000_000_000L
      def joined(): String = {
        import scala.jdk.CollectionConverters._
        plans.asScala.mkString("\n===\n")
      }
      // hop 1: the touched region's key pins nation (single key →
      // EqualTo); hop 2: the restricted nations' keys pin customer
      // (two keys → In, collect order unspecified)
      val hop2 = """In\(payload\.nk, \[1[01],\s*1[01]\]\)""".r
      def pruned(p: String): Boolean =
        p.contains("EqualTo(payload.rk,1)") && hop2.findFirstIn(p).isDefined
      while (!pruned(joined()) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(pruned(joined()),
        "expected transitive EqualTo(payload.rk,1) and In(payload.nk," +
          "[10,11]) pushdown in the refresh plans; pushed filters seen:\n" +
          """PushedFilters: \[[^\]]*\]""".r.findAllIn(joined())
            .toSeq.distinct.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
    // and the merged content matches a from-scratch recompute
    assert(e.sql("SELECT zone, seg, n, sv FROM pv").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
              |FROM rg JOIN nt ON rg.r = nt.rk JOIN cs ON nt.n = cs.nk
              |GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet)
    e.close()
  }

  test("a MIN/MAX join view maintains incrementally under retraction") {
    val e = QueryEngine.scratch(spark)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'a'), (2,'b')")
    e.sql("INSERT INTO item VALUES (10,1,5), (11,1,9), (12,2,3)")
    e.sql("""CREATE MATERIALIZED VIEW jm AS
            |SELECT status, MIN(qty) AS lo, MAX(qty) AS mq
            |FROM ord JOIN item ON ord.k = item.ok
            |GROUP BY status""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT status, MIN(qty) AS lo, MAX(qty) AS mq
              |FROM ord JOIN item ON ord.k = item.ok
              |GROUP BY status""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT status, lo, mq FROM jm").collect().map(_.toString).toSet
    // append a new extreme
    e.sql("INSERT INTO item VALUES (13,1,100)")
    val r = e.sql("REFRESH MATERIALIZED VIEW jm INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    // retract the stored MAX (pre-horizon row) — the aux overlay must
    // re-derive the group extreme over the surviving joined values
    e.sql("DELETE FROM item WHERE i = 13")
    e.sql("REFRESH MATERIALIZED VIEW jm INCREMENTALLY")
    assert(view() === fresh())
    assert(view().contains("[a,5,9]"), view())
    // a dim-side regroup moves every joined pair's extreme
    e.sql("UPDATE ord SET status = 'b' WHERE k = 1")
    e.sql("REFRESH MATERIALIZED VIEW jm INCREMENTALLY")
    assert(view() === fresh())
    assert(!view().exists(_.startsWith("[a,")), "emptied group must vanish")
    e.close()
  }

  test("ACD join view: a cancelling cross-term phantom never enters the sketch") {
    // DELETE dim + INSERT fact in one refresh window: the
    // telescoping fact term dim_old⋈Δfct emits a +1 row for a
    // (group, value) pair that existed in NEITHER state (old dim × new
    // fact), and its net support is 0 — a net-based probe would keep
    // the union path and the sketch would absorb the phantom forever.
    // The any-negative probe must dispatch to the recompute instead.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE dimt (k BIGINT PRIMARY KEY, grp STRING)")
    e.sql("CREATE TABLE fctt (i BIGINT PRIMARY KEY, dk BIGINT, v BIGINT)")
    e.sql("INSERT INTO dimt VALUES (1,'g'), (2,'g')")
    e.sql("INSERT INTO fctt VALUES (10,2,1)") // only d2 has a fact
    e.sql("""CREATE MATERIALIZED VIEW pj AS
            |SELECT grp, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM dimt JOIN fctt ON dimt.k = fctt.dk
            |GROUP BY grp""".stripMargin)
    e.sql("DELETE FROM dimt WHERE k = 1")
    e.sql("INSERT INTO fctt VALUES (11,1,7)") // dangles: d1 is gone
    val r = e.sql("REFRESH MATERIALIZED VIEW pj INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(e.sql("SELECT grp, dv, n FROM pj").collect().map(_.toString).toSet
      === Set("[g,1,1]"), "phantom (d1_old, f11_new) pair must not count")
    e.close()
  }

  test("an ACD join view maintains under appends AND retraction") {
    val e = QueryEngine.scratch(spark)
    mkTables(e)
    e.sql("INSERT INTO ord VALUES (1,'a'), (2,'b')")
    e.sql("INSERT INTO item VALUES (10,1,5), (11,1,5), (12,1,9), (13,2,3)")
    e.sql("""CREATE MATERIALIZED VIEW ja AS
            |SELECT status, APPROX_COUNT_DISTINCT(qty) AS dq, COUNT(*) AS n
            |FROM ord JOIN item ON ord.k = item.ok
            |GROUP BY status""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT status, hll_sketch_estimate(hll_sketch_agg(qty)) AS dq,
              |COUNT(*) AS n FROM ord JOIN item ON ord.k = item.ok
              |GROUP BY status""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT status, dq, n FROM ja").collect().map(_.toString).toSet
    assert(view() === fresh())
    // appends on both sides: the new ord row (3,'a') is joined by the
    // new item row in the SAME window, so the all-delta term's
    // negative parity routes this refresh through the recompute — the
    // union path is reserved for new rows joining only pre-existing
    // partners. Either way the result matches the from-scratch sketch.
    e.sql("INSERT INTO ord VALUES (3,'a')")
    e.sql("INSERT INTO item VALUES (14,3,7), (15,2,3)")
    val r = e.sql("REFRESH MATERIALIZED VIEW ja INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    // deleting the LAST holder of a joined value retracts it: qty=9
    // leaves group a, and the refresh must still merge incrementally
    e.sql("DELETE FROM item WHERE i = 12")
    val r2 = e.sql("REFRESH MATERIALIZED VIEW ja INCREMENTALLY").collect().head
    assert(r2.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,2,")), "9 retracted, {5,7} remain")
    // a dim regroup retracts every pair from the old group
    e.sql("UPDATE ord SET status = 'b' WHERE k = 3")
    e.sql("REFRESH MATERIALIZED VIEW ja INCREMENTALLY")
    assert(view() === fresh())
    // a fact deletion that does NOT retract (duplicate value remains):
    // qty=3 still held by i=15 after i=13 goes
    e.sql("DELETE FROM item WHERE i = 13")
    e.sql("REFRESH MATERIALIZED VIEW ja INCREMENTALLY")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[b,2,")), "b keeps {3,7}")
    e.close()
  }

  test("a retracting ACD join recompute prunes its partner scans") {
    // Round 16: the sketch retraction recompute used to join RAW full
    // sides (only the joined frame was group-filtered afterwards).
    // Now the side owning the bare group key restricts to the delta's
    // touched group VALUES, and the cascade pushes that restriction
    // across the join tree: the UNTOUCHED partner (fact) side is a
    // flat snapshot scan, so the cascaded key restriction must land
    // as In(payload.dk, ...) parquet pushdown — excluding the dim of
    // the untouched group. No other refresh path filters the fact
    // scan on dk, so its presence pins the recompute's pruning.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE dmr (k BIGINT PRIMARY KEY, grp STRING)")
    e.sql("CREATE TABLE fcr (i BIGINT PRIMARY KEY, dk BIGINT, v BIGINT)")
    e.sql("INSERT INTO dmr VALUES (1,'g'), (2,'g'), (3,'h'), (4,'x')")
    e.sql("INSERT INTO fcr VALUES (10,1,5), (11,2,7), (12,3,9), (13,4,11)")
    Seq("dmr", "fcr").foreach(t => e.sql(s"SNAPSHOT $t"))
    e.sql("""CREATE MATERIALIZED VIEW pvr AS
            |SELECT grp, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM dmr JOIN fcr ON dmr.k = fcr.dk
            |GROUP BY grp""".stripMargin)
    // a pre-horizon dim regroup retracts its joined (g,5) pair → the
    // sketch recompute fires for groups {g,h}; 'x' stays untouched
    e.sql("UPDATE dmr SET grp = 'h' WHERE k = 1")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val op = e.sql("REFRESH MATERIALIZED VIEW pvr INCREMENTALLY")
        .collect().head.getString(0)
      assert(op === "refreshed_incremental")
      val deadline = System.nanoTime() + 15_000_000_000L
      def joined(): String = {
        import scala.jdk.CollectionConverters._
        plans.asScala.mkString("\n===\n")
      }
      // dims of the touched groups {g,h} are {1,2,3} — dim 4 ('x')
      // must NOT reach the fact scan (collect order unspecified)
      val hop = """In\(payload\.dk, \[[123],\s*[123],\s*[123]\]\)""".r
      def pruned(p: String): Boolean = hop.findFirstIn(p).isDefined
      while (!pruned(joined()) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(pruned(joined()),
        "expected the recompute's cascaded In(payload.dk, [1,2,3]) " +
          "pushdown on the untouched fact partner scan; pushed " +
          "filters seen:\n" +
          """PushedFilters: \[[^\]]*\]""".r.findAllIn(joined())
            .toSeq.distinct.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
    // content: the recomputed groups must equal a from-scratch sketch
    assert(e.sql("SELECT grp, dv, n FROM pvr").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT grp, hll_sketch_estimate(hll_sketch_agg(v)) AS dv,
              |COUNT(*) AS n FROM dmr JOIN fcr ON dmr.k = fcr.dk
              |GROUP BY grp""".stripMargin).collect().map(_.toString).toSet)
    e.close()
  }

  test("a 3-table ACD view recomputes exactly with group keys on two sides") {
    // the recompute restriction's multi-owner path: zone lives on the
    // chain head, seg on the middle table — both sides restrict to
    // their touched group values, the cascade prunes from the head,
    // and the result must still equal a from-scratch sketch through
    // churn at every level (value retraction, head regroup, middle
    // delete orphaning a subtree)
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE rg3 (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE nt3 (n BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE cs3 (c BIGINT PRIMARY KEY, nk BIGINT, v BIGINT)")
    e.sql("INSERT INTO rg3 VALUES (1,'e'), (2,'w')")
    e.sql("INSERT INTO nt3 VALUES (10,1,'a'), (11,1,'b'), (12,2,'a')")
    e.sql("INSERT INTO cs3 VALUES (100,10,5), (101,10,5), (102,11,7), " +
      "(103,12,9), (104,12,3)")
    e.sql("""CREATE MATERIALIZED VIEW av3 AS
            |SELECT zone, seg, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM rg3 JOIN nt3 ON rg3.r = nt3.rk JOIN cs3 ON nt3.n = cs3.nk
            |GROUP BY zone, seg""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT zone, seg, hll_sketch_estimate(hll_sketch_agg(v)) AS dv,
              |COUNT(*) AS n
              |FROM rg3 JOIN nt3 ON rg3.r = nt3.rk JOIN cs3 ON nt3.n = cs3.nk
              |GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT zone, seg, dv, n FROM av3").collect().map(_.toString).toSet
    // pre-horizon value retraction (last holder of 5 in (e,a) changes)
    e.sql("UPDATE cs3 SET v = 6 WHERE c = 100")
    e.sql("UPDATE cs3 SET v = 8 WHERE c = 101")
    var op = e.sql("REFRESH MATERIALIZED VIEW av3 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(view() === fresh())
    // head regroup moves every transitive pair across zones
    e.sql("UPDATE rg3 SET zone = 'n' WHERE r = 1")
    op = e.sql("REFRESH MATERIALIZED VIEW av3 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(view() === fresh())
    // middle delete orphans its subtree (inner join drops it)
    e.sql("DELETE FROM nt3 WHERE n = 12")
    op = e.sql("REFRESH MATERIALIZED VIEW av3 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(view() === fresh())
    assert(!view().exists(_.contains("[w,")), "zone w emptied")
    e.close()
  }

  test("a sketch recompute over MORE touched groups than the inline cap stays exact") {
    // 400 distinct group values all retract in one refresh window —
    // past the 256-key cap, so the recompute's root restriction takes
    // the null-safe distributed semi-join (touchedValueRestrict's
    // overflow branch) and the touched-group post-filter takes
    // semiOnTouched; the merged view must still equal a from-scratch
    // sketch for every group
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE dmg (k BIGINT PRIMARY KEY, grp STRING)")
    e.sql("CREATE TABLE fcg (i BIGINT PRIMARY KEY, dk BIGINT, v BIGINT)")
    e.sql(s"INSERT INTO dmg VALUES ${(1L to 400L)
      .map(i => s"($i, 'g$i')").mkString(", ")}")
    e.sql(s"INSERT INTO fcg VALUES ${(1L to 400L)
      .map(i => s"($i, $i, ${i % 13})").mkString(", ")}")
    e.sql("""CREATE MATERIALIZED VIEW avg400 AS
            |SELECT grp, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM dmg JOIN fcg ON dmg.k = fcg.dk
            |GROUP BY grp""".stripMargin)
    e.sql("UPDATE fcg SET v = v + 1") // every group retracts its value
    val op = e.sql("REFRESH MATERIALIZED VIEW avg400 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(e.sql("SELECT grp, dv, n FROM avg400").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT grp, hll_sketch_estimate(hll_sketch_agg(v)) AS dv,
              |COUNT(*) AS n FROM dmg JOIN fcg ON dmg.k = fcg.dk
              |GROUP BY grp""".stripMargin).collect().map(_.toString).toSet)
    e.close()
  }

  test("past-the-cap churn keeps pruning through a distributed semi-join") {
    // Round 16: a bulk update touching MORE keys than InlineKeyCap
    // (256) used to abandon full-side pruning for every table past
    // the overflowing hop — up to 2^n−1 raw partner scans. Now the
    // hop keeps a DISTRIBUTED distinct-key frame (aliased
    // __graft_ck<tag>) and left-semi-joins the partner instead; only
    // the driver-side IN-list literalization is capped. The alias is
    // unique to the semi-join path (touchedFilters' own overflow
    // semi joins on "pk"), so its presence in the executed plans
    // proves the overflow took the restriction, not the give-up —
    // and the hop PAST the overflow re-enters the inline regime
    // (nation is small), so In(payload.nk, ...) must still push into
    // the customer scan.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE rgx (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE ntx (n BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE csx (c BIGINT PRIMARY KEY, nk BIGINT, v BIGINT)")
    val regions = (1L to 300L).map(i => s"($i, 'z${i % 7}')")
    e.sql(s"INSERT INTO rgx VALUES ${regions.mkString(", ")}")
    // nations spread across ALL 300 regions so the overflowed key
    // frame actually restricts something real
    val nations = (1L to 12L).map(i => s"(${i * 100}, ${i * 25 - 1}, 's${i % 3}')")
    e.sql(s"INSERT INTO ntx VALUES ${nations.mkString(", ")}")
    val custs = (1L to 40L).map(i => s"($i, ${(i % 12 + 1) * 100}, ${i % 17})")
    e.sql(s"INSERT INTO csx VALUES ${custs.mkString(", ")}")
    Seq("rgx", "ntx", "csx").foreach(t => e.sql(s"SNAPSHOT $t"))
    e.sql("""CREATE MATERIALIZED VIEW pvx AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
            |FROM rgx JOIN ntx ON rgx.r = ntx.rk JOIN csx ON ntx.n = csx.nk
            |GROUP BY zone, seg""".stripMargin)
    e.sql("UPDATE rgx SET zone = 'moved'") // touch ALL 300 head keys
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val op = e.sql("REFRESH MATERIALIZED VIEW pvx INCREMENTALLY")
        .collect().head.getString(0)
      assert(op === "refreshed_incremental")
      val deadline = System.nanoTime() + 15_000_000_000L
      def joined(): String = {
        import scala.jdk.CollectionConverters._
        plans.asScala.mkString("\n===\n")
      }
      def pruned(p: String): Boolean =
        p.contains("__graft_ck") && p.contains("In(payload.nk")
      while (!pruned(joined()) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(pruned(joined()),
        "expected a __graft_ck semi-join key frame (hop 1 overflow) and " +
          "an In(payload.nk, ...) pushdown (hop 2 back under the cap) " +
          "in the refresh plans")
    } finally spark.listenerManager.unregister(listener)
    assert(e.sql("SELECT zone, seg, n, sv FROM pvx").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
              |FROM rgx JOIN ntx ON rgx.r = ntx.rk JOIN csx ON ntx.n = csx.nk
              |GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet)
    e.close()
  }

  test("a 6-table chain (the cap) maintains incrementally under multi-level churn") {
    // the cap boundary at runtime, not just in the parser: a 6-deep
    // hierarchy with churn at the head, a middle re-parent, and leaf
    // value churn in ONE window — three touched sides, so the
    // telescoping delta plans three terms with old-prefix reads — must
    // equal the from-scratch aggregate
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE a6 (a BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE b6 (b BIGINT PRIMARY KEY, ak BIGINT)")
    e.sql("CREATE TABLE c6 (c BIGINT PRIMARY KEY, bk BIGINT, seg STRING)")
    e.sql("CREATE TABLE d6 (d BIGINT PRIMARY KEY, ck BIGINT)")
    e.sql("CREATE TABLE e6 (e BIGINT PRIMARY KEY, dk BIGINT)")
    e.sql("CREATE TABLE f6 (f BIGINT PRIMARY KEY, ek BIGINT, v BIGINT)")
    e.sql("INSERT INTO a6 VALUES (1,'e'), (2,'w')")
    e.sql("INSERT INTO b6 VALUES (10,1), (11,2)")
    e.sql("INSERT INTO c6 VALUES (20,10,'x'), (21,11,'y'), (22,10,'y')")
    e.sql("INSERT INTO d6 VALUES (30,20), (31,21), (32,22)")
    e.sql("INSERT INTO e6 VALUES (40,30), (41,31), (42,32), (43,30)")
    e.sql("INSERT INTO f6 VALUES (50,40,5), (51,41,7), (52,42,9), " +
      "(53,43,11), (54,40,13)")
    e.sql("""CREATE MATERIALIZED VIEW v6 AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
            |FROM a6 JOIN b6 ON a6.a = b6.ak
            |JOIN c6 ON b6.b = c6.bk
            |JOIN d6 ON c6.c = d6.ck
            |JOIN e6 ON d6.d = e6.dk
            |JOIN f6 ON e6.e = f6.ek
            |GROUP BY zone, seg""".stripMargin)
    assert(e.sql("SHOW MATERIALIZED VIEWS").collect()
      .head.getString(2) === "incremental_join")
    def fresh(): Set[String] =
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
              |FROM a6 JOIN b6 ON a6.a = b6.ak
              |JOIN c6 ON b6.b = c6.bk
              |JOIN d6 ON c6.c = d6.ck
              |JOIN e6 ON d6.d = e6.dk
              |JOIN f6 ON e6.e = f6.ek
              |GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT zone, seg, n, sv FROM v6").collect().map(_.toString).toSet
    // three levels churn in one window
    e.sql("UPDATE a6 SET zone = 'n' WHERE a = 1")
    e.sql("UPDATE c6 SET bk = 11 WHERE c = 22") // middle re-parent
    e.sql("UPDATE f6 SET v = v + 100 WHERE f = 50")
    e.sql("DELETE FROM f6 WHERE f = 53")
    var op = e.sql("REFRESH MATERIALIZED VIEW v6 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(view() === fresh())
    // then a single-leaf window (one term)
    e.sql("INSERT INTO f6 VALUES (55,41,17)")
    op = e.sql("REFRESH MATERIALIZED VIEW v6 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(view() === fresh())
    e.close()
  }

  test("an 8-table chain (the raised cap) maintains incrementally under churn at four levels") {
    // round 18 raised MaxJoinTables 6 -> 8 after the old-prefix
    // derivation removed the per-term scans; exercise the new cap at
    // runtime with churn spread over four levels (four telescoping
    // terms with derived old prefixes) and verify against the
    // from-scratch aggregate
    assert(graft.sql.IncrementalView.MaxJoinTables === 8)
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE a8 (a BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE b8 (b BIGINT PRIMARY KEY, ak BIGINT)")
    e.sql("CREATE TABLE c8 (c BIGINT PRIMARY KEY, bk BIGINT, seg STRING)")
    e.sql("CREATE TABLE d8 (d BIGINT PRIMARY KEY, ck BIGINT)")
    e.sql("CREATE TABLE e8 (e BIGINT PRIMARY KEY, dk BIGINT)")
    e.sql("CREATE TABLE f8 (f BIGINT PRIMARY KEY, ek BIGINT)")
    e.sql("CREATE TABLE g8 (g BIGINT PRIMARY KEY, fk BIGINT)")
    e.sql("CREATE TABLE h8 (h BIGINT PRIMARY KEY, gk BIGINT, v BIGINT)")
    e.sql("INSERT INTO a8 VALUES (1,'e'), (2,'w')")
    e.sql("INSERT INTO b8 VALUES (10,1), (11,2)")
    e.sql("INSERT INTO c8 VALUES (20,10,'x'), (21,11,'y')")
    e.sql("INSERT INTO d8 VALUES (30,20), (31,21)")
    e.sql("INSERT INTO e8 VALUES (40,30), (41,31)")
    e.sql("INSERT INTO f8 VALUES (50,40), (51,41)")
    e.sql("INSERT INTO g8 VALUES (60,50), (61,51), (62,50)")
    e.sql("INSERT INTO h8 VALUES (70,60,5), (71,61,7), (72,62,9), (73,60,11)")
    val chain =
      """FROM a8 JOIN b8 ON a8.a = b8.ak
        |JOIN c8 ON b8.b = c8.bk
        |JOIN d8 ON c8.c = d8.ck
        |JOIN e8 ON d8.d = e8.dk
        |JOIN f8 ON e8.e = f8.ek
        |JOIN g8 ON f8.f = g8.fk
        |JOIN h8 ON g8.g = h8.gk
        |GROUP BY zone, seg""".stripMargin
    e.sql("CREATE MATERIALIZED VIEW v8 AS\n" +
      s"SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv\n$chain")
    assert(e.sql("SHOW MATERIALIZED VIEWS").collect()
      .head.getString(2) === "incremental_join")
    def fresh(): Set[String] =
      e.sql(s"SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv\n$chain")
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT zone, seg, n, sv FROM v8").collect().map(_.toString).toSet
    // churn at head, two middles, and leaf in one window
    e.sql("UPDATE a8 SET zone = 'n' WHERE a = 1")
    e.sql("UPDATE d8 SET ck = 21 WHERE d = 30") // re-parent level 4
    e.sql("UPDATE g8 SET fk = 51 WHERE g = 62") // re-parent level 7
    e.sql("UPDATE h8 SET v = v + 100 WHERE h = 70")
    e.sql("DELETE FROM h8 WHERE h = 73")
    var op = e.sql("REFRESH MATERIALIZED VIEW v8 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(view() === fresh())
    // single-leaf window stays one term
    e.sql("INSERT INTO h8 VALUES (74,61,17)")
    op = e.sql("REFRESH MATERIALIZED VIEW v8 INCREMENTALLY")
      .collect().head.getString(0)
    assert(op === "refreshed_incremental")
    assert(view() === fresh())
    // a 9-table chain stays past the cap: CREATE falls back to a
    // plain (full-refresh) materialized view, never an error
    e.sql("CREATE TABLE i9 (i BIGINT PRIMARY KEY, hk BIGINT)")
    e.sql("INSERT INTO i9 VALUES (80,70)")
    e.sql("""CREATE MATERIALIZED VIEW v9 AS
            |SELECT zone, COUNT(*) AS n
            |FROM a8 JOIN b8 ON a8.a = b8.ak
            |JOIN c8 ON b8.b = c8.bk
            |JOIN d8 ON c8.c = d8.ck
            |JOIN e8 ON d8.d = e8.dk
            |JOIN f8 ON e8.e = f8.ek
            |JOIN g8 ON f8.f = g8.fk
            |JOIN h8 ON g8.g = h8.gk
            |JOIN i9 ON h8.h = i9.hk
            |GROUP BY zone""".stripMargin)
    val kinds = e.sql("SHOW MATERIALIZED VIEWS").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(kinds("v9") !== "incremental_join")
    e.close()
  }

  test("a computed single-side group key restricts its side in the sketch recompute") {
    // Round 17: a COMPUTED group key whose column references all
    // resolve to ONE side (dmr.k % 5) restricts that side to the
    // delta's touched key values, exactly like a bare column — before,
    // any computed key meant owner = None and the recompute joined raw
    // full sides. The pinnable artifact is downstream: the cascade
    // from the restricted dim pushes the surviving dims' keys into the
    // UNTOUCHED fact partner's flat snapshot scan as In(payload.dk,
    // ...) — touched bucket {1} keeps dims {1, 6} (k % 5 = 1) and
    // must exclude dims 2..5.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE dmc (k BIGINT PRIMARY KEY, grp STRING)")
    e.sql("CREATE TABLE fcc (i BIGINT PRIMARY KEY, dk BIGINT, v BIGINT)")
    e.sql("INSERT INTO dmc VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d'), " +
      "(5,'e'), (6,'f')")
    e.sql("INSERT INTO fcc VALUES (10,1,5), (11,2,7), (12,3,9), " +
      "(13,4,11), (14,5,13), (15,6,17)")
    Seq("dmc", "fcc").foreach(t => e.sql(s"SNAPSHOT $t"))
    e.sql("""CREATE MATERIALIZED VIEW cbv AS
            |SELECT dmc.k % 5 AS bucket, APPROX_COUNT_DISTINCT(v) AS dv,
            |COUNT(*) AS n
            |FROM dmc JOIN fcc ON dmc.k = fcc.dk
            |GROUP BY bucket""".stripMargin)
    // pre-horizon dim churn: the old-side joined rows retract, so the
    // sketch recompute fires; only bucket 1 (dims {1, 6}) is touched
    e.sql("UPDATE dmc SET grp = 'z' WHERE k = 1")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val op = e.sql("REFRESH MATERIALIZED VIEW cbv INCREMENTALLY")
        .collect().head.getString(0)
      assert(op === "refreshed_incremental")
      val deadline = System.nanoTime() + 15_000_000_000L
      def joined(): String = {
        import scala.jdk.CollectionConverters._
        plans.asScala.mkString("\n===\n")
      }
      // dims surviving k % 5 IN (touched bucket 1) are {1, 6}; dims
      // 2..5 must not reach the fact scan (collect order unspecified)
      val hop = """In\(payload\.dk, \[[16],\s*[16]\]\)""".r
      def pruned(p: String): Boolean = hop.findFirstIn(p).isDefined
      while (!pruned(joined()) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(pruned(joined()),
        "expected the computed-key recompute's cascaded " +
          "In(payload.dk, [1, 6]) pushdown on the untouched fact " +
          "partner scan; pushed filters seen:\n" +
          """PushedFilters: \[[^\]]*\]""".r.findAllIn(joined())
            .toSeq.distinct.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
    // content: the recomputed groups must equal a from-scratch sketch
    assert(e.sql("SELECT bucket, dv, n FROM cbv").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT dmc.k % 5 AS bucket,
              |hll_sketch_estimate(hll_sketch_agg(v)) AS dv, COUNT(*) AS n
              |FROM dmc JOIN fcc ON dmc.k = fcc.dk
              |GROUP BY bucket""".stripMargin).collect().map(_.toString).toSet)
    e.close()
  }
}
