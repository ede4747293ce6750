package graft.exec

import graft.TestSpark
import graft.sql.IncrementalView
import org.scalatest.funsuite.AnyFunSuite

/** REFRESH MATERIALIZED VIEW ... INCREMENTALLY: the merged view must
  * equal a from-scratch recomputation after every DML batch — group
  * creation, cross-group row moves, NULL transitions, and full group
  * deletion included — and the refresh horizon must survive reopen.
  */
class IncrementalViewSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshView(e: QueryEngine): Set[String] =
    e.sql("""SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv
            |FROM t WHERE k % 100 <> 7 GROUP BY grp""".stripMargin)
      .collect().map(_.toString).toSet

  private def mv(e: QueryEngine): Set[String] =
    e.sql("SELECT grp, n, nv, sv FROM mv").collect().map(_.toString).toSet

  test("incremental refresh equals full recomputation across DML rounds") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',20), (3,'b',30), (7,'c',70)")
    e.sql("""CREATE MATERIALIZED VIEW mv AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv
            |FROM t WHERE k % 100 <> 7 GROUP BY grp""".stripMargin)
    assert(mv(e) === freshView(e)) // population already filtered k=7 out

    // the view must not expose the hidden IVM bookkeeping
    assert(!e.sql("SELECT * FROM mv").columns.exists(_.startsWith("__graft_")))

    // round 1: new group, move a row across groups, null a value
    e.sql("INSERT INTO t VALUES (4,'d',40), (5,'d',NULL)")
    e.sql("UPDATE t SET grp = 'b' WHERE k = 2")
    e.sql("UPDATE t SET v = NULL WHERE k = 3")
    val r1 = e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY").collect().head
    assert(r1.getString(0) === "refreshed_incremental")
    assert(mv(e) === freshView(e))

    // round 2: empty group 'a' entirely; SUM of an all-NULL group
    e.sql("DELETE FROM t WHERE grp = 'a'")
    e.sql("UPDATE t SET v = NULL WHERE grp = 'd'")
    e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    val after = mv(e)
    assert(after === freshView(e))
    assert(!after.exists(_.startsWith("[a,")), "emptied group must vanish")
    assert(after.exists(_.startsWith("[d,2,0,null")), "all-NULL SUM must be NULL")

    // round 3: a row crossing the WHERE boundary (k=7 excluded → moves in)
    e.sql("UPDATE t SET k = 8 WHERE k = 7") // pk change = delete + insert
    e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(mv(e) === freshView(e))

    // no-op refresh (no new events) leaves the view identical
    val before = mv(e)
    e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(mv(e) === before)
    e.close()
  }

  test("horizon persists across reopen; full refresh resets it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'b',20)")
    e.sql("""CREATE MATERIALIZED VIEW mv AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv
            |FROM t WHERE k % 100 <> 7 GROUP BY grp""".stripMargin)
    e.close()
    val e2 = new QueryEngine(spark, dir)
    e2.sql("INSERT INTO t VALUES (3,'a',30)")
    e2.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(mv(e2) === freshView(e2))
    // a full REFRESH re-materializes and re-anchors the horizon
    e2.sql("INSERT INTO t VALUES (4,'c',40)")
    e2.sql("REFRESH MATERIALIZED VIEW mv")
    assert(mv(e2) === freshView(e2))
    e2.sql("DELETE FROM t WHERE k = 4")
    e2.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(mv(e2) === freshView(e2))
    e2.close()
  }

  test("FLOAT/DOUBLE SUM/AVG views gate out of the maintainable shape") {
    // signed-delta add/subtract over doubles is order-dependent and
    // drifts across refreshes, so such views must be full_rerun — the
    // shape's contract is incremental == full, bit for bit
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE ft (k BIGINT PRIMARY KEY, grp STRING, d DOUBLE, v BIGINT)")
    e.sql("INSERT INTO ft VALUES (1,'a',1.5,10), (2,'a',2.5,20), (3,'b',0.25,5)")
    for ((name, aggs) <- Seq(
        ("fsum", "SUM(d) AS sd"), ("favg", "AVG(d) AS ad"),
        ("fexpr", "SUM(d * 2) AS sd"))) {
      e.sql(s"CREATE MATERIALIZED VIEW $name AS " +
        s"SELECT grp, $aggs FROM ft GROUP BY grp")
      val err = intercept[IllegalArgumentException] {
        e.sql(s"REFRESH MATERIALIZED VIEW $name INCREMENTALLY")
      }
      assert(err.getMessage.contains("not incrementally maintainable"), name)
    }
    val kinds = e.sql("SHOW MATERIALIZED VIEWS")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(kinds("fsum") === "full_rerun")
    assert(kinds("favg") === "full_rerun")
    // double MIN/MAX/COUNT stay maintainable (value identity, no
    // accumulation), as does an exact-typed cast inside the SUM
    e.sql("""CREATE MATERIALIZED VIEW fmm AS
            |SELECT grp, MIN(d) AS lo, MAX(d) AS hi, COUNT(d) AS n,
            |       SUM(CAST(d AS DECIMAL(20,6))) AS sd, SUM(v) AS sv
            |FROM ft GROUP BY grp""".stripMargin)
    val kind2 = e.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "fmm").get.getString(2)
    assert(kind2 === "incremental")
    e.sql("INSERT INTO ft VALUES (4,'a',9.75,7)")
    e.sql("UPDATE ft SET d = 0.125 WHERE k = 2")
    e.sql("DELETE FROM ft WHERE k = 3")
    e.sql("REFRESH MATERIALIZED VIEW fmm INCREMENTALLY")
    def fresh(): Set[String] =
      e.sql("""SELECT grp, MIN(d) AS lo, MAX(d) AS hi, COUNT(d) AS n,
              |       SUM(CAST(d AS DECIMAL(20,6))) AS sd, SUM(v) AS sv
              |FROM ft GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    assert(e.sql("SELECT grp, lo, hi, n, sd, sv FROM fmm")
      .collect().map(_.toString).toSet === fresh())
    // full refresh serves the gated views correctly
    e.sql("REFRESH MATERIALIZED VIEW fsum")
    assert(e.sql("SELECT grp, sd FROM fsum ORDER BY grp").collect()
      .map(_.toString).toSeq
      === e.sql("SELECT grp, SUM(d) AS sd FROM ft GROUP BY grp ORDER BY grp")
        .collect().map(_.toString).toSeq)
    e.close()
  }

  test("non-maintainable views reject INCREMENTALLY; vacuum past the horizon raises") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10)")
    // COUNT/SUM/AVG(DISTINCT) maintain via their aux frames; the
    // MIN/MAX(DISTINCT) spellings stay out of the shape (legal SQL,
    // served by full rerun)
    e.sql("""CREATE MATERIALIZED VIEW mvdist AS
            |SELECT grp, MAX(DISTINCT v) AS dv FROM t GROUP BY grp""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      e.sql("REFRESH MATERIALIZED VIEW mvdist INCREMENTALLY")
    }
    assert(err.getMessage.contains("not incrementally maintainable"))

    e.sql("CREATE MATERIALIZED VIEW mv AS SELECT grp, COUNT(*) AS n FROM t GROUP BY grp")
    e.sql("INSERT INTO t VALUES (2,'b',20)")
    e.sql("SNAPSHOT t")
    e.sql("VACUUM t RETAIN @SEQ:2") // events at/below the horizon are gone
    e.sql("INSERT INTO t VALUES (3,'c',30)")
    val verr = intercept[IllegalStateException] {
      e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    }
    assert(verr.getMessage.contains("vacuum"))
    // the documented recovery: full refresh re-anchors above the floor
    e.sql("REFRESH MATERIALIZED VIEW mv")
    e.sql("INSERT INTO t VALUES (4,'c',40)")
    e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(e.sql("SELECT grp, n FROM mv ORDER BY grp").collect().map(_.toString).toSeq
      === Seq("[a,1]", "[b,1]", "[c,2]"))
    e.close()
  }

  test("shape parser accepts the maintainable form and rejects the rest") {
    import IncrementalView._
    // one table is the one-table join chain: ONE parse serves both
    // (view SQL, None = not maintainable, or a check on the shape)
    def ok(check: Shape => Boolean): Option[Shape => Boolean] = Some(check)
    val no: Option[Shape => Boolean] = None
    val cases: Seq[(String, Option[Shape => Boolean])] = Seq(
      "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM t WHERE v > 0 GROUP BY grp" ->
        ok(s => s.tables == Seq("t") && s.links.isEmpty &&
          s.where.contains("v > 0") && s.groupCols == Seq("grp") &&
          s.aggs.size == 2),
      "SELECT a, b, COUNT(c) AS n FROM t GROUP BY a, b" ->
        ok(_.groupCols == Seq("a", "b")),
      // a dotted name is one flat table identifier
      "SELECT g, COUNT(*) AS n FROM app.t GROUP BY g" ->
        ok(_.tables == Seq("app.t")),
      // MIN/MAX parse into the shape, aux-frame-backed and fully
      // retractable since round 15 — no retraction probe
      "SELECT grp, MAX(v) AS m FROM t GROUP BY grp" ->
        ok(s => !s.hasSketch && s.aggs.size == 1),
      "SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM t GROUP BY grp" ->
        ok(s => !s.hasSketch && s.aggs.size == 3),
      // AVG maintains through the hidden SUM/COUNT rewrite
      "SELECT grp, AVG(v) AS m FROM t GROUP BY grp" ->
        ok(s => !s.hasSketch && s.aggs.size == 1),
      // SUM/AVG(DISTINCT) maintain via the aux frame (round 15);
      // MIN/MAX(DISTINCT) spellings stay full-rerun
      "SELECT grp, SUM(DISTINCT v) AS m FROM t GROUP BY grp" ->
        ok(_.aggs == Seq(SumDistinctExpr("v", "m"))),
      "SELECT grp, AVG(DISTINCT v) AS m FROM t GROUP BY grp" ->
        ok(_.aggs == Seq(AvgDistinctExpr("v", "m"))),
      "SELECT grp, MAX(DISTINCT v) AS m FROM t GROUP BY grp" -> no,
      "SELECT grp, SUM(DISTINCT v, k) AS m FROM t GROUP BY grp" -> no,
      // COUNT(DISTINCT) maintains exactly via the hidden aux frame —
      // retractable, no probe
      "SELECT grp, COUNT(DISTINCT v) AS m FROM t GROUP BY grp" ->
        ok(s => !s.hasSketch && s.aggs.size == 1),
      // APPROX_COUNT_DISTINCT is the mergeable-sketch path: the ONE
      // aggregate whose refresh probes the delta (union vs
      // touched-group recompute dispatch), and NOT caught by the
      // DISTINCT-keyword rejection (targets `(DISTINCT ...` only)
      "SELECT grp, APPROX_COUNT_DISTINCT(v) AS dv FROM t GROUP BY grp" ->
        ok(s => s.hasSketch && s.aggs.size == 1),
      // APPROX_PERCENTILE with a LITERAL quantile rides the KLL sketch;
      // a column-valued or 3-arg (accuracy) form falls back
      "SELECT grp, APPROX_PERCENTILE(v, 0.5) AS med FROM t GROUP BY grp" ->
        ok(s => s.aggs == Seq(PctlExpr("v", "med", "0.5")) && s.hasSketch),
      "SELECT grp, APPROX_PERCENTILE(v, p) AS med FROM t GROUP BY grp" -> no,
      "SELECT grp, APPROX_PERCENTILE(v, 0.5, 100) AS med FROM t GROUP BY grp" ->
        no,
      // computed group keys: a row expression with an alias, stated by
      // ALIAS in GROUP BY; aggregate calls cannot be group keys
      "SELECT v % 5 AS bucket, COUNT(*) AS n FROM t GROUP BY bucket" ->
        ok(_.groupKeys == Seq(GroupKey("v % 5", "bucket"))),
      "SELECT grp, v % 5 AS bucket, COUNT(*) AS n FROM t GROUP BY grp, bucket" ->
        ok(_.groupKeys.size == 2),
      "SELECT SUM(v) AS s2, COUNT(*) AS n FROM t GROUP BY s2" -> no,
      "SELECT v % 5 AS bucket, COUNT(*) AS n FROM t GROUP BY v % 5" -> no,
      // HAVING parses as the read-time filter (over output aliases)
      "SELECT grp, COUNT(*) AS n FROM t WHERE v > 0 " +
        "GROUP BY grp HAVING n > 5 AND grp <> 'x'" ->
        ok(s => s.having.contains("n > 5 AND grp <> 'x'") &&
          s.where.contains("v > 0")),
      "SELECT grp, COUNT(*) AS n FROM t GROUP BY grp" -> ok(_.having.isEmpty),
      // an aggregate-call HAVING (standard SQL) rewrites to a hidden
      // maintained accumulator (round 15); a non-maintainable call or a
      // string literal (could hide a fake call) still falls back.
      // A call matching a select item reuses its alias — no hidden agg
      "SELECT grp, COUNT(*) AS n FROM t GROUP BY grp HAVING COUNT(*) >= 2" ->
        ok(s => s.having.contains("n >= 2") && s.aggs.size == 1),
      // a call NOT in the select list mints a hidden accumulator
      "SELECT grp, COUNT(*) AS n FROM t GROUP BY grp HAVING SUM(v) >= 2" ->
        ok(s => s.having.contains("__graft_h_0 >= 2") &&
          s.aggs.contains(SumExpr("v", "__graft_h_0"))),
      "SELECT grp, COUNT(*) AS n FROM t GROUP BY grp " +
        "HAVING MAX(DISTINCT v) > 2" -> no,
      "SELECT grp, COUNT(*) AS n FROM t GROUP BY grp " +
        "HAVING SUM(v) > 2 AND grp <> 'COUNT(x'" -> no,
      // double quotes are string literals under Spark's default parser —
      // a "COUNT(v)" lookalike must fall back, not rewrite
      "SELECT grp, COUNT(*) AS n FROM t GROUP BY grp " +
        "HAVING SUM(v) > 2 AND grp <> \"COUNT(v)\"" -> no,
      // Spark's multi-column COUNT(a, b) / 2-arg approx_count_distinct
      // are legal SQL but not maintainable accumulators — full rerun, in
      // the select list and in HAVING alike; same for FILTER clauses,
      // which bind to the call the rewrite would otherwise strip
      "SELECT grp, COUNT(v, k) AS n FROM t GROUP BY grp" -> no,
      "SELECT grp, APPROX_COUNT_DISTINCT(v, 0.05) AS d FROM t GROUP BY grp" ->
        no,
      "SELECT grp, SUM(v) AS sv FROM t GROUP BY grp " +
        "HAVING COUNT(v, k) >= 1" -> no,
      "SELECT grp, SUM(v) AS sv FROM t GROUP BY grp " +
        "HAVING COUNT(*) FILTER (WHERE v > 0) >= 2" -> no,
      // a scalar subquery's aggregates range over the SUBQUERY's
      // relation — rewriting them against the base table would corrupt
      // the predicate; full rerun executes it correctly
      "SELECT grp, COUNT(*) AS n FROM t GROUP BY grp " +
        "HAVING SUM(v) > (SELECT MAX(x) FROM s)" -> no,
      // case/spacing variants of one call are ONE accumulator
      "SELECT grp, SUM(v) AS sv FROM t GROUP BY grp " +
        "HAVING COUNT(*) >= 2 AND count( * ) <= 10" ->
        ok(s => s.aggs.size == 2 &&
          s.having.contains("__graft_h_0 >= 2 AND __graft_h_0 <= 10")),
      // multi-column COUNT(DISTINCT a, b) has no single aux value key
      "SELECT grp, COUNT(DISTINCT v, k) AS m FROM t GROUP BY grp" -> no,
      // the no-space COUNT(DISTINCT(v)) form still maintains
      "SELECT grp, COUNT(DISTINCT(v)) AS m FROM t GROUP BY grp" ->
        ok(_.aggs.size == 1),
      "SELECT COUNT(*) AS n FROM t" -> no, // no GROUP BY
      "SELECT grp, other, COUNT(*) AS n FROM t GROUP BY grp" -> no)
    for ((sql, want) <- cases) want match {
      case None => assert(parse(sql).isEmpty, sql)
      case Some(check) => assert(parse(sql).exists(check), sql)
    }
  }

  test("AVG maintains exactly via the hidden SUM/COUNT rewrite") {
    val e = QueryEngine.scratch(spark)
    e.sql("""CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING,
            |v BIGINT, d DECIMAL(12,2))""".stripMargin)
    e.sql("""INSERT INTO t VALUES (1,'a',10,1.25), (2,'a',21,2.50),
            |(3,'b',30,NULL), (4,'b',NULL,4.75)""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW va AS
            |SELECT grp, AVG(v) AS av, AVG(d) AS ad, COUNT(*) AS n
            |FROM t GROUP BY grp""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT grp, SUM(v) / COUNT(v) AS av, SUM(d) / COUNT(d) AS ad,
              |COUNT(*) AS n FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT grp, av, ad, n FROM va").collect().map(_.toString).toSet
    assert(view() === fresh())
    assert(!e.sql("SELECT * FROM va").columns.exists(_.startsWith("__graft_")))

    // inserts (incl. a NULL and a fresh group), a value update, a
    // cross-group move, and a delete — the merged division must equal
    // the from-scratch one bit-for-bit (exact integer/decimal sums)
    e.sql("INSERT INTO t VALUES (5,'c',7,0.10), (6,'a',NULL,NULL)")
    e.sql("UPDATE t SET v = 13 WHERE k = 1")
    e.sql("UPDATE t SET grp = 'b' WHERE k = 2")
    e.sql("DELETE FROM t WHERE k = 3")
    val r = e.sql("REFRESH MATERIALIZED VIEW va INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(view() === fresh())

    // NULL out every v in a group: its AVG must return to NULL; then
    // empty a group entirely: the row must vanish
    e.sql("UPDATE t SET v = NULL WHERE grp = 'c'")
    e.sql("DELETE FROM t WHERE grp = 'a'")
    e.sql("REFRESH MATERIALIZED VIEW va INCREMENTALLY")
    val after = view()
    assert(after === fresh())
    assert(after.exists(_.startsWith("[c,null,")), "all-NULL AVG must be NULL")
    assert(!after.exists(_.startsWith("[a,")), "emptied group must vanish")
    e.close()
  }

  test("computed group keys maintain exactly like bare columns") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'ax',10), (2,'ay',21), (3,'bz',30), (4,'b',NULL)")
    e.sql("""CREATE MATERIALIZED VIEW ck AS
            |SELECT SUBSTRING(grp, 1, 1) AS fam, v % 2 AS par,
            |       COUNT(*) AS n, SUM(v) AS sv
            |FROM t GROUP BY fam, par""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT SUBSTRING(grp, 1, 1) AS fam, v % 2 AS par,
              |COUNT(*) AS n, SUM(v) AS sv FROM t GROUP BY fam, par""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT fam, par, n, sv FROM ck").collect().map(_.toString).toSet
    assert(view() === fresh())
    // updates move rows ACROSS computed groups (a value flips parity,
    // a rename flips family); deletes empty a computed group
    e.sql("UPDATE t SET v = 11 WHERE k = 1")
    e.sql("UPDATE t SET grp = 'cq' WHERE k = 3")
    e.sql("INSERT INTO t VALUES (5,'ax',NULL)")
    e.sql("REFRESH MATERIALIZED VIEW ck INCREMENTALLY")
    assert(view() === fresh())
    e.sql("DELETE FROM t WHERE grp LIKE 'a%'")
    e.sql("REFRESH MATERIALIZED VIEW ck INCREMENTALLY")
    assert(view() === fresh())
    assert(!view().exists(_.startsWith("[a,")), "emptied computed group vanishes")
    e.close()
  }

  test("COUNT(DISTINCT) maintains exactly via the hidden aux frame") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',10), (3,'a',20), (4,'b',NULL), (5,'b',7)")
    e.sql("""CREATE MATERIALIZED VIEW dv AS
            |SELECT grp, COUNT(DISTINCT v) AS d, COUNT(*) AS n, SUM(v) AS sv
            |FROM t GROUP BY grp""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT grp, COUNT(DISTINCT v) AS d, COUNT(*) AS n,
              |SUM(v) AS sv FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT grp, d, n, sv FROM dv").collect().map(_.toString).toSet
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,2,3,")), "dup values count once")
    assert(view().exists(_.startsWith("[b,1,2,")), "NULLs never count")
    // THE retraction trap the sketch cannot handle: delete ONE of the
    // two v=10 rows — the distinct count must NOT drop (another live
    // row still contributes 10); delete the second — now it drops
    e.sql("DELETE FROM t WHERE k = 1")
    e.sql("REFRESH MATERIALIZED VIEW dv INCREMENTALLY")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,2,2,")), "10 still contributed by k=2")
    e.sql("DELETE FROM t WHERE k = 2")
    e.sql("REFRESH MATERIALIZED VIEW dv INCREMENTALLY")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,1,1,")), "last 10 retracted")
    // value moves ACROSS groups; a NULL transition; a fresh group;
    // an untouched group must keep its stored count (overlay scope)
    e.sql("INSERT INTO t VALUES (6,'c',99)")
    e.sql("UPDATE t SET grp = 'c' WHERE k = 3")
    e.sql("UPDATE t SET v = NULL WHERE k = 5")
    e.sql("REFRESH MATERIALIZED VIEW dv INCREMENTALLY")
    assert(view() === fresh())
    e.close()
  }

  test("COUNT(DISTINCT) aux survives reopen and rides a join view") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cd-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("CREATE TABLE d (k BIGINT PRIMARY KEY, g STRING)")
    e.sql("CREATE TABLE f (i BIGINT PRIMARY KEY, dk BIGINT, v BIGINT)")
    e.sql("INSERT INTO d VALUES (1,'x'), (2,'y')")
    e.sql("INSERT INTO f VALUES (10,1,5), (11,1,5), (12,2,7)")
    e.sql("""CREATE MATERIALIZED VIEW jd AS
            |SELECT g, COUNT(DISTINCT v) AS d, COUNT(*) AS n
            |FROM d JOIN f ON d.k = f.dk GROUP BY g""".stripMargin)
    def fresh(en: QueryEngine): Set[String] =
      en.sql("""SELECT g, COUNT(DISTINCT v) AS d, COUNT(*) AS n
               |FROM d JOIN f ON d.k = f.dk GROUP BY g""".stripMargin)
        .collect().map(_.toString).toSet
    def view(en: QueryEngine): Set[String] =
      en.sql("SELECT g, d, n FROM jd").collect().map(_.toString).toSet
    assert(view(e) === fresh(e))
    e.close()
    val e2 = new QueryEngine(spark, dir)
    // a dim re-group moves BOTH duplicate v=5 facts to y; x vanishes
    e2.sql("UPDATE d SET g = 'y' WHERE k = 1")
    e2.sql("INSERT INTO f VALUES (13,2,5)")
    e2.sql("DELETE FROM f WHERE i = 10")
    e2.sql("REFRESH MATERIALIZED VIEW jd INCREMENTALLY")
    assert(view(e2) === fresh(e2))
    assert(view(e2) === Set("[y,2,3]"), s"got ${view(e2)}")
    e2.close()
  }

  test("HAVING filters at read time; groups cross the boundary under deltas") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',20), (3,'b',30)")
    e.sql("""CREATE MATERIALIZED VIEW hv AS
            |SELECT grp, COUNT(*) AS n, SUM(v) AS sv
            |FROM t GROUP BY grp HAVING n >= 2""".stripMargin)
    def view(): Set[String] =
      e.sql("SELECT grp, n, sv FROM hv").collect().map(_.toString).toSet
    def fresh(): Set[String] =
      e.sql("""SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM t
              |GROUP BY grp HAVING COUNT(*) >= 2""".stripMargin)
        .collect().map(_.toString).toSet
    assert(view() === fresh())
    assert(view() === Set("[a,2,30]"), "b (n=1) is outside the HAVING")
    // a delta moves b INTO the predicate and a OUT of it — storage
    // kept both groups, so the read-time filter re-admits b exactly
    e.sql("INSERT INTO t VALUES (4,'b',5)")
    e.sql("DELETE FROM t WHERE k = 1")
    e.sql("REFRESH MATERIALIZED VIEW hv INCREMENTALLY")
    assert(view() === fresh())
    assert(view() === Set("[b,2,35]"))
    // HAVING typos fail the CREATE, not the first read. (A reference
    // to a hidden __graft_* accumulator resolves THROUGH the
    // hidden-column drop — Spark's missing-reference resolution — at
    // both the CREATE check and the read, so it behaves consistently
    // rather than deferring a failure.)
    val err = intercept[Exception] {
      e.sql("""CREATE MATERIALIZED VIEW hbad AS
              |SELECT grp, COUNT(*) AS n FROM t GROUP BY grp
              |HAVING nope > 1""".stripMargin)
    }
    assert(err.getMessage.toLowerCase.contains("nope"), err.getMessage)
    e.close()
  }

  test("aggregate-call HAVING maintains via hidden accumulators") {
    // `HAVING SUM(v) > 20 AND COUNT(DISTINCT w) >= 2` (standard SQL,
    // aggregates NOT in the select list) rewrites to hidden maintained
    // accumulators (round 15 — until then such views fell back to full
    // rerun): the view is kind=incremental, every group is stored, the
    // predicate applies at read over the hidden columns, and deltas —
    // including aux-backed COUNT(DISTINCT) retraction — move groups
    // across the boundary exactly
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT, w BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10,1), (2,'a',20,2), (3,'b',30,7)")
    e.sql("""CREATE MATERIALIZED VIEW hagg AS
            |SELECT grp, COUNT(*) AS n FROM t GROUP BY grp
            |HAVING SUM(v) > 20 AND COUNT(DISTINCT w) >= 2""".stripMargin)
    assert(e.sql("SHOW MATERIALIZED VIEWS").collect()
      .find(_.getString(0) == "hagg").exists(_.getString(2) == "incremental"))
    def view(): Set[String] =
      e.sql("SELECT grp, n FROM hagg").collect().map(_.toString).toSet
    def fresh(): Set[String] =
      e.sql("""SELECT grp, COUNT(*) AS n FROM t GROUP BY grp
              |HAVING SUM(v) > 20 AND COUNT(DISTINCT w) >= 2""".stripMargin)
        .collect().map(_.toString).toSet
    assert(view() === fresh())
    assert(view() === Set("[a,2]"), "b has one distinct w")
    // hidden accumulators never surface
    assert(e.sql("SELECT * FROM hagg").columns.toSet === Set("grp", "n"))
    // b crosses INTO the predicate; a's distinct-w support collapses
    // OUT of it (both w values become 1 — an aux retraction)
    e.sql("INSERT INTO t VALUES (4,'b',40,8)")
    e.sql("UPDATE t SET w = 1 WHERE grp = 'a'")
    e.sql("REFRESH MATERIALIZED VIEW hagg INCREMENTALLY")
    assert(view() === fresh())
    assert(view() === Set("[b,2]"))
    // a call textually matching a select item reuses its accumulator —
    // and the alias-form and call-form predicates agree
    e.sql("""CREATE MATERIALIZED VIEW hmix AS
            |SELECT grp, SUM(v) AS sv FROM t GROUP BY grp
            |HAVING SUM(v) > 20""".stripMargin)
    assert(e.sql("SELECT grp, sv FROM hmix").collect().map(_.toString).toSet
      === e.sql("""SELECT grp, SUM(v) AS sv FROM t GROUP BY grp
                  |HAVING SUM(v) > 20""".stripMargin)
        .collect().map(_.toString).toSet)
    // reuse means NO extra hidden accumulator was minted
    import IncrementalView._
    val sh = parse("SELECT grp, SUM(v) AS sv FROM t GROUP BY grp " +
      "HAVING SUM(v) > 20").get
    assert(sh.aggs === Seq(SumExpr("v", "sv")) && sh.having.contains("sv > 20"))
    e.close()
  }

  test("APPROX_COUNT_DISTINCT maintains under tail inserts AND retraction") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',10), (3,'a',20), (4,'b',NULL)")
    e.sql("""CREATE MATERIALIZED VIEW vc AS
            |SELECT grp, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM t GROUP BY grp""".stripMargin)
    // the estimate must equal the full-refresh estimate — stated as
    // the SAME sketch expression (small cardinalities sit in the
    // sketch's exact sparse mode, so it also equals COUNT(DISTINCT))
    def fresh(): Set[String] =
      e.sql("""SELECT grp, hll_sketch_estimate(hll_sketch_agg(v)) AS dv,
              |COUNT(*) AS n FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT grp, dv, n FROM vc").collect().map(_.toString).toSet
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,2,")), "dup values count once")
    assert(view().exists(_.startsWith("[b,0,")), "all-NULL group estimates 0")

    // tail inserts: duplicate values across the horizon must not
    // double-count; a fresh group starts its own sketch; tail-local
    // churn is allowed (only surviving new state unions in)
    e.sql("INSERT INTO t VALUES (5,'a',10), (6,'a',30), (7,'c',1), (8,'c',2)")
    e.sql("UPDATE t SET v = 3 WHERE k = 8")
    e.sql("DELETE FROM t WHERE k = 7")
    val r = e.sql("REFRESH MATERIALIZED VIEW vc INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,3,")), "cross-horizon dup counted once")

    // a pre-horizon contributing row's touch RETRACTS a sketched
    // value — since round 15 the refresh recomputes the touched
    // groups' sketches from group-pruned current state instead of
    // refusing: k=1,2 both held v=10, the update leaves one 10 and a
    // fresh 99, so group a's count must NOT drop
    e.sql("UPDATE t SET v = 99 WHERE k = 1")
    val r2 = e.sql("REFRESH MATERIALIZED VIEW vc INCREMENTALLY").collect().head
    assert(r2.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,4,")), "10,30,99 + the other 10 dup")
    // deleting the LAST row holding a value retracts it for real
    e.sql("DELETE FROM t WHERE k = 6") // group a's only v=30
    e.sql("REFRESH MATERIALIZED VIEW vc INCREMENTALLY")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,3,")), "30 retracted")
    // untouched groups keep their stored sketch; a touched group whose
    // rows all go away vanishes entirely
    e.sql("INSERT INTO t VALUES (10,'c',1)")
    e.sql("REFRESH MATERIALIZED VIEW vc INCREMENTALLY")
    e.sql("DELETE FROM t WHERE grp = 'c'")
    e.sql("REFRESH MATERIALIZED VIEW vc INCREMENTALLY")
    assert(view() === fresh())
    assert(!view().exists(_.startsWith("[c,")), "emptied group must vanish")
    // a retracted-to-all-NULL group re-derives the empty sketch
    e.sql("UPDATE t SET v = NULL WHERE grp = 'b'")
    e.sql("REFRESH MATERIALIZED VIEW vc INCREMENTALLY")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[b,0,")), "all-NULL group estimates 0")
    // maintenance keeps going after a retraction refresh (horizons
    // re-anchored correctly — no double-applied delta)
    e.sql("INSERT INTO t VALUES (11,'b',7)")
    e.sql("REFRESH MATERIALIZED VIEW vc INCREMENTALLY")
    assert(view() === fresh())
    e.close()
  }

  test("ACD retraction recompute prunes its scan and AUTOREFRESHes") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',20), (3,'b',30), (4,'b',40)")
    // WHERE + computed group key: the semi-join prune path (no single
    // bare key to inline) and the WHERE must apply before recompute
    e.sql("""CREATE MATERIALIZED VIEW vp AS
            |SELECT grp, k % 2 AS par, APPROX_COUNT_DISTINCT(v) AS dv
            |FROM t WHERE v < 1000 GROUP BY grp, par""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT grp, k % 2 AS par,
              |hll_sketch_estimate(hll_sketch_agg(v)) AS dv
              |FROM t WHERE v < 1000 GROUP BY grp, par""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT grp, par, dv FROM vp").collect().map(_.toString).toSet
    // ACD views AUTOREFRESH since round 15 (a retraction can no longer
    // fail the refresh)
    e.sql("ALTER MATERIALIZED VIEW vp SET AUTOREFRESH ON")
    e.sql("UPDATE t SET v = 11 WHERE k = 1") // pre-horizon retraction
    assert(view() === fresh(), "autorefresh applied the retraction")
    // a row leaving the WHERE retracts like a delete; one entering
    // lands like an insert
    e.sql("UPDATE t SET v = 5000 WHERE k = 3")
    assert(view() === fresh())
    e.sql("UPDATE t SET v = 40 WHERE k = 3") // duplicate of k=4's value
    assert(view() === fresh())
    // a SINGLE computed key takes the inline-values arm of the prune
    // (the evaluated expression against collected key values), not
    // the semi-join — retraction must still recompute exactly
    e.sql("""CREATE MATERIALIZED VIEW vs1 AS
            |SELECT k % 2 AS par, APPROX_COUNT_DISTINCT(v) AS dv
            |FROM t GROUP BY par""".stripMargin)
    e.sql("UPDATE t SET v = 77 WHERE k = 2") // pre-horizon retraction
    e.sql("REFRESH MATERIALIZED VIEW vs1 INCREMENTALLY")
    assert(e.sql("SELECT par, dv FROM vs1").collect().map(_.toString).toSet
      === e.sql("""SELECT k % 2 AS par,
                  |hll_sketch_estimate(hll_sketch_agg(v)) AS dv
                  |FROM t GROUP BY par""".stripMargin)
        .collect().map(_.toString).toSet)
    e.close()
  }

  test("ACD retraction rewrites ONLY the touched groups' sketches") {
    // the O(touched) claim at the storage level: a retracting refresh
    // that touches group a must pass group b's and c's stored sketch
    // BYTES through unchanged (the overlay rewrites flagged groups
    // only) — a hidden full re-aggregation would re-serialize every
    // sketch with different partition orders and betray itself here
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',20), (3,'b',30), " +
      "(4,'b',35), (5,'c',40)")
    e.sql("""CREATE MATERIALIZED VIEW vs AS
            |SELECT grp, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM t GROUP BY grp""".stripMargin)
    def storedSketches(): Map[String, Seq[Byte]] = {
      val ver = new java.io.File(s"${e.baseDir}/matviews/vs")
        .listFiles.filter(_.getName.startsWith("v=")).maxBy(_.getName)
      spark.read.parquet(ver.getPath).collect()
        .map(r => r.getString(r.fieldIndex("grp")) ->
          r.getAs[Array[Byte]]("__graft_hll_dv").toSeq).toMap
    }
    val before = storedSketches()
    e.sql("UPDATE t SET v = 11 WHERE k = 1") // retracts group a only
    val r = e.sql("REFRESH MATERIALIZED VIEW vs INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    val after = storedSketches()
    assert(after("b") === before("b") && after("c") === before("c"),
      "untouched groups' stored sketches must pass through byte-identical")
    assert(after("a") !== before("a"), "touched group must recompute")
    assert(e.sql("SELECT grp, dv, n FROM vs").collect().map(_.toString).toSet
      === e.sql("""SELECT grp, hll_sketch_estimate(hll_sketch_agg(v)) AS dv,
                  |COUNT(*) AS n FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet)
    e.close()
  }

  test("APPROX_PERCENTILE maintains via KLL union AND retraction recompute") {
    // the maintainable APPROX_PERCENTILE substitutes a mergeable KLL
    // sketch (the native approx_percentile has no mergeable state); in
    // the exact regime (≤ KllK values per group) its quantile is the
    // exact order statistic min{x : inclusive rank ≥ p} — stated here
    // as the same KLL expression, and pinned against the CUME_DIST
    // derivation once below
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',20), (3,'a',30), " +
      "(4,'b',5), (5,'b',NULL)")
    e.sql("""CREATE MATERIALIZED VIEW vp AS
            |SELECT grp, APPROX_PERCENTILE(v, 0.5) AS med, COUNT(*) AS n
            |FROM t GROUP BY grp""".stripMargin)
    def fresh(): Set[String] =
      e.sql(s"""SELECT grp, CASE WHEN COUNT(v) > 0 THEN
              |kll_sketch_get_quantile_double(
              |  kll_sketch_agg_double(CAST(v AS DOUBLE),
              |    ${IncrementalView.KllK}), 0.5) END AS med,
              |COUNT(*) AS n FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT grp, med, n FROM vp").collect().map(_.toString).toSet
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,20.0,")), "median of 10,20,30")
    // exact-regime semantics pinned against the SQL derivation
    assert(e.sql("""SELECT MIN(dv) FROM (SELECT CAST(v AS DOUBLE) AS dv,
        |CUME_DIST() OVER (ORDER BY v) AS cd FROM t WHERE grp = 'a')
        |WHERE cd >= 0.5""".stripMargin).collect().head.getDouble(0) === 20.0)

    // tail inserts union sketches; an all-NULL group stays NULL; a
    // fresh group starts its own sketch
    e.sql("INSERT INTO t VALUES (6,'a',40), (7,'c',1)")
    val r = e.sql("REFRESH MATERIALIZED VIEW vp INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[b,5.0,")), "NULL ignored in rank")
    // pre-horizon retraction: delete the current median's row — the
    // touched group's sketch recomputes from surviving state
    e.sql("DELETE FROM t WHERE k = 2")
    e.sql("REFRESH MATERIALIZED VIEW vp INCREMENTALLY")
    assert(view() === fresh())
    // a group retracted to all-NULL must surface NULL (the guard the
    // empty KLL sketch needs — get_quantile on it would throw)
    e.sql("UPDATE t SET v = NULL WHERE grp = 'c'")
    e.sql("REFRESH MATERIALIZED VIEW vp INCREMENTALLY")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[c,null,")), view().toString)
    // refill and keep maintaining
    e.sql("INSERT INTO t VALUES (8,'c',9)")
    e.sql("REFRESH MATERIALIZED VIEW vp INCREMENTALLY")
    assert(view() === fresh())
    e.close()
  }

  test("percentile retraction rewrites ONLY the touched groups' KLL sketches") {
    // same storage-level O(touched) pin as the ACD test: a retracting
    // refresh that touches group a must pass group b's stored KLL
    // bytes through unchanged — a hidden full re-aggregation would
    // re-serialize them with different item orders
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',20), (3,'b',30), (4,'b',40)")
    e.sql("""CREATE MATERIALIZED VIEW vq AS
            |SELECT grp, APPROX_PERCENTILE(v, 0.5) AS med, COUNT(*) AS n
            |FROM t GROUP BY grp""".stripMargin)
    def stored(): Map[String, Seq[Byte]] = {
      val ver = new java.io.File(s"${e.baseDir}/matviews/vq")
        .listFiles.filter(_.getName.startsWith("v=")).maxBy(_.getName)
      spark.read.parquet(ver.getPath).collect()
        .map(r => r.getString(r.fieldIndex("grp")) ->
          r.getAs[Array[Byte]]("__graft_kll_med").toSeq).toMap
    }
    val before = stored()
    e.sql("UPDATE t SET v = 15 WHERE k = 1") // retracts group a only
    val r = e.sql("REFRESH MATERIALIZED VIEW vq INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    val after = stored()
    assert(after("b") === before("b"),
      "untouched group's stored KLL bytes must pass through identical")
    assert(after("a") !== before("a"), "touched group must recompute")
    e.close()
  }

  test("MIN/MAX maintain under tail inserts AND pre-horizon retraction") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',50), (3,'b',30)")
    e.sql("""CREATE MATERIALIZED VIEW mm AS
            |SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n,
            |       SUM(v) AS sv
            |FROM t GROUP BY grp""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n,
              |       SUM(v) AS sv FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT grp, lo, hi, n, sv FROM mm").collect().map(_.toString).toSet
    assert(view() === fresh())

    // tail inserts: new extremes on both ends, a new group, a NULL
    e.sql("INSERT INTO t VALUES (4,'a',5), (5,'a',99), (6,'c',7), (7,'b',NULL)")
    val r = e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(view() === fresh())

    // tail-local churn is allowed: rows inserted after THIS horizon may
    // be updated and even deleted before the next refresh — only their
    // surviving state contributes
    e.sql("INSERT INTO t VALUES (8,'c',100), (9,'c',1)")
    e.sql("UPDATE t SET v = 2 WHERE k = 8") // retracts 100 before it lands
    e.sql("DELETE FROM t WHERE k = 9")
    e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY")
    assert(view() === fresh())

    // a pre-horizon row's update RETRACTS the stored extreme — since
    // round 15 the aux frame makes that exact: k=5 held MAX(v)=99 for
    // group a, and after the update the merged view must re-derive the
    // group's true extreme from the surviving values, incrementally
    e.sql("UPDATE t SET v = 0 WHERE k = 5") // k=5 is behind the horizon now
    val r2 = e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY").collect().head
    assert(r2.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    // deleting the row holding a group's MIN retracts the other end
    e.sql("DELETE FROM t WHERE k = 4") // group a's MIN(v)=5
    e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY")
    assert(view() === fresh())
    // emptying a whole group must vanish it, aux included
    e.sql("DELETE FROM t WHERE grp = 'c'")
    e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY")
    assert(view() === fresh())
    assert(!view().exists(_.startsWith("[c,")), "emptied group must vanish")
    e.sql("INSERT INTO t VALUES (10,'a',-3)")
    e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY")
    assert(view() === fresh())
    e.close()
  }

  test("aggregates over one value expression share one aux frame") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT, w BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10,1), (2,'a',50,2), (3,'b',30,3)")
    e.sql("""CREATE MATERIALIZED VIEW sx AS
            |SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(DISTINCT v) AS dv,
            |       SUM(DISTINCT v) AS sd, AVG(DISTINCT v) AS ad,
            |       MIN(w) AS lw, COUNT(*) AS n
            |FROM t GROUP BY grp""".stripMargin)
    // MIN(v)/MAX(v)/COUNT(DISTINCT v)/SUM(DISTINCT v)/AVG(DISTINCT v)
    // share one frame; MIN(w) gets its own: exactly TWO aux stores
    // (round 18: a bucketed store root per alias group + a manifest
    // per version dir, in place of the old per-version aux dirs)
    def auxManifests(): Set[String] = {
      val ver = new java.io.File(s"${e.baseDir}/matviews/sx")
        .listFiles.filter(_.getName.startsWith("v=")).maxBy(_.getName)
      ver.listFiles.map(_.getName).filter(_.startsWith("_graft_aux_")).toSet
    }
    def auxStores(): Set[String] =
      new java.io.File(s"${e.baseDir}/matviews/sx")
        .listFiles.map(_.getName).filter(_.startsWith("auxstore_")).toSet
    assert(auxManifests() === Set("_graft_aux_lo.manifest.json",
      "_graft_aux_lw.manifest.json"))
    assert(auxStores() === Set("auxstore_lo", "auxstore_lw"))
    // churn including retraction of both extremes and a distinct value
    e.sql("INSERT INTO t VALUES (4,'a',99,0), (5,'b',-7,9)")
    e.sql("REFRESH MATERIALIZED VIEW sx INCREMENTALLY")
    e.sql("DELETE FROM t WHERE k = 2") // group a's MAX(v)=50 and a dv value
    e.sql("UPDATE t SET w = 8 WHERE k = 3") // group b's MIN(w)
    e.sql("REFRESH MATERIALIZED VIEW sx INCREMENTALLY")
    assert(auxManifests() === Set("_graft_aux_lo.manifest.json",
      "_graft_aux_lw.manifest.json"))
    assert(auxStores() === Set("auxstore_lo", "auxstore_lw"))
    assert(e.sql("SELECT grp, lo, hi, dv, sd, ad, lw, n FROM sx").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT grp, MIN(v) AS lo, MAX(v) AS hi,
              |       COUNT(DISTINCT v) AS dv, SUM(DISTINCT v) AS sd,
              |       SUM(DISTINCT v) / COUNT(DISTINCT v) AS ad,
              |       MIN(w) AS lw, COUNT(*) AS n
              |FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet)
    e.close()
  }

  test("bucketed aux store: untouched buckets are referenced, never rewritten") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES " +
      (0 until 200).map(i => s"($i, 'g${i % 50}', ${i % 13})").mkString(", "))
    e.sql("""CREATE MATERIALIZED VIEW bx AS
            |SELECT grp, COUNT(DISTINCT v) AS dv, MIN(v) AS lo
            |FROM t GROUP BY grp""".stripMargin)
    val store = new java.io.File(s"${e.baseDir}/matviews/bx/auxstore_dv")
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(store).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = files()
    assert(before.nonEmpty)
    // touch ONE group: the refresh must rewrite only that group's
    // bucket under a NEW store version and leave every v=0 file
    // byte-untouched (same path, same mtime)
    e.sql("UPDATE t SET v = v + 100 WHERE k = 7")
    e.sql("REFRESH MATERIALIZED VIEW bx INCREMENTALLY")
    val after = files()
    for ((p, m) <- before) {
      assert(after.contains(p), s"v=0 bucket file deleted: $p")
      assert(after(p) === m, s"v=0 bucket file rewritten: $p")
    }
    val v1 = new java.io.File(store, "v=1")
    assert(v1.isDirectory, "expected a new store version for the touched bucket")
    val v1Buckets = v1.listFiles.map(_.getName)
      .filter(_.startsWith(graft.sql.IncrementalView.AuxBucketCol + "="))
    assert(v1Buckets.length === 1,
      s"one touched group must rewrite exactly one bucket, got: ${v1Buckets.toSeq}")
    // the manifest in the new view version points exactly one bucket
    // at v=1 and the rest at v=0
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${e.baseDir}/matviews/bx/v=1/" +
        graft.sql.IncrementalView.auxManifestFile("dv"))), "UTF-8")
    val pointers = manifest.trim.stripPrefix("[").stripSuffix("]")
      .split(",").map(_.trim.toLong)
    assert(pointers.length === graft.sql.IncrementalView.AuxBuckets)
    assert(pointers.count(_ == 1L) === 1)
    assert(pointers.count(_ == 0L) === graft.sql.IncrementalView.AuxBuckets - 1)
    // values stay exact through the bucketed path
    assert(e.sql("SELECT grp, dv, lo FROM bx").collect()
      .map(_.toString).toSet ===
      e.sql("SELECT grp, COUNT(DISTINCT v) AS dv, MIN(v) AS lo " +
        "FROM t GROUP BY grp").collect().map(_.toString).toSet)
    e.close()
  }

  test("bucketed aux store equals a from-scratch aggregation under random churn") {
    val dir = java.nio.file.Files.createTempDirectory("graft-auxb-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES " +
      (0 until 120).map(i => s"($i, 'g${i % 24}', ${i % 7})").mkString(", "))
    e.sql("""CREATE MATERIALIZED VIEW rx AS
            |SELECT grp, COUNT(DISTINCT v) AS dv, MIN(v) AS lo,
            |       MAX(v) AS hi, COUNT(*) AS n
            |FROM t GROUP BY grp""".stripMargin)
    val rnd = new scala.util.Random(42)
    var nextK = 120
    def fresh(): Set[String] =
      e.sql("""SELECT grp, COUNT(DISTINCT v) AS dv, MIN(v) AS lo,
              |       MAX(v) AS hi, COUNT(*) AS n
              |FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    for (round <- 0 until 8) {
      for (_ <- 0 until 4) rnd.nextInt(3) match {
        case 0 =>
          e.sql(s"INSERT INTO t VALUES ($nextK, 'g${rnd.nextInt(26)}', " +
            s"${rnd.nextInt(9)})")
          nextK += 1
        case 1 =>
          e.sql(s"UPDATE t SET v = ${rnd.nextInt(9)} WHERE k = " +
            s"${rnd.nextInt(nextK)}")
        case 2 =>
          e.sql(s"DELETE FROM t WHERE k = ${rnd.nextInt(nextK)}")
      }
      e.sql("REFRESH MATERIALIZED VIEW rx INCREMENTALLY")
      assert(e.sql("SELECT grp, dv, lo, hi, n FROM rx").collect()
        .map(_.toString).toSet === fresh(), s"diverged at round $round")
    }
    // reopen: manifests and store survive an engine restart
    e.close()
    val e2 = new QueryEngine(spark, dir)
    e2.sql("INSERT INTO t VALUES (9999, 'g1', 6)")
    e2.sql("REFRESH MATERIALIZED VIEW rx INCREMENTALLY")
    assert(e2.sql("SELECT grp, dv, lo, hi, n FROM rx").collect()
      .map(_.toString).toSet ===
      e2.sql("""SELECT grp, COUNT(DISTINCT v) AS dv, MIN(v) AS lo,
               |       MAX(v) AS hi, COUNT(*) AS n
               |FROM t GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet)
    e2.close()
  }

  test("MIN/MAX retraction honors the view's WHERE across the boundary") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    // k=2 is excluded by the view's WHERE at creation time
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',950), (3,'b',30)")
    e.sql("""CREATE MATERIALIZED VIEW mw AS
            |SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
            |FROM t WHERE v < 900 GROUP BY grp""".stripMargin)
    def fresh(): Set[String] =
      e.sql("""SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
              |FROM t WHERE v < 900 GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def view(): Set[String] =
      e.sql("SELECT grp, lo, hi, n FROM mw").collect().map(_.toString).toSet
    e.sql("INSERT INTO t VALUES (4,'b',40)")
    e.sql("REFRESH MATERIALIZED VIEW mw INCREMENTALLY")
    assert(view() === fresh())
    // update a PRE-horizon row the WHERE excluded THEN: it contributed
    // nothing, so its move INTO the view lands like a fresh insert
    e.sql("UPDATE t SET v = 5 WHERE k = 2")
    val r = e.sql("REFRESH MATERIALIZED VIEW mw INCREMENTALLY").collect().head
    assert(r.getString(0) === "refreshed_incremental")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,5,")), "moved-in row must set the new MIN")
    // a contributing pre-horizon row moving OUT across the WHERE
    // boundary retracts its value — the aux overlay re-derives the
    // group extreme from what survives inside the predicate
    e.sql("UPDATE t SET v = 901 WHERE k = 2") // was group a's MIN(v)=5
    e.sql("REFRESH MATERIALIZED VIEW mw INCREMENTALLY")
    assert(view() === fresh())
    assert(view().exists(_.startsWith("[a,10,")), "retracted MIN must fall back")
    e.close()
  }

  test("uncommitted writes of another session never leak into the refresh") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10)")
    e.sql("""CREATE MATERIALIZED VIEW mv AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv
            |FROM t WHERE k % 100 <> 7 GROUP BY grp""".stripMargin)
    val other = e.newSession()
    other.sql("BEGIN")
    other.sql("INSERT INTO t VALUES (2,'a',20)") // buffered, not committed
    e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(e.sql("SELECT grp, n FROM mv").collect().map(_.toString).toSeq
      === Seq("[a,1]"), "uncommitted insert leaked into the view")
    other.sql("COMMIT")
    e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(e.sql("SELECT grp, n, sv FROM mv").collect().map(_.toString).toSeq
      === Seq("[a,2,30]"))
    e.close()
  }

  test("backup/restore carries versioned snapshots and the refresh horizon") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivmbk-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1,'a',10), (2,'b',20)")
    e.sql("OPTIMIZE t") // versioned snapshot dir (seq=2.v1)
    e.sql("""CREATE MATERIALIZED VIEW mv AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv
            |FROM t WHERE k % 100 <> 7 GROUP BY grp""".stripMargin)
    val bdir = java.nio.file.Files.createTempDirectory("graft-ivmbk-b-").toString + "/b"
    e.sql(s"BACKUP DATABASE TO '$bdir'")
    e.sql("INSERT INTO t VALUES (3,'a',30)") // post-backup, lost on restore
    e.sql(s"RESTORE DATABASE FROM '$bdir'")
    // restored state serves from the versioned snapshot
    assert(e.sql("SELECT COUNT(*) AS n FROM t").collect().head.getLong(0) === 2L)
    // the restored horizon continues incrementally
    e.sql("INSERT INTO t VALUES (4,'b',40)")
    e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
    assert(e.sql("SELECT grp, n, sv FROM mv ORDER BY grp").collect().map(_.toString).toSeq
      === Seq("[a,1,10]", "[b,2,60]"))
    e.close()
  }

  test("SHOW MATERIALIZED VIEWS carries the KLL exactness note for percentile views") {
    // the one maintainable aggregate with a CONDITIONAL bit-parity
    // contract surfaces it where the operator looks (round 16), plus —
    // round 17 — WHICH regime the view is actually in, derived from
    // the hidden per-group support counts
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE tnv (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO tnv VALUES (1,'a',5)")
    e.sql("""CREATE MATERIALIZED VIEW pnote AS
            |SELECT grp, APPROX_PERCENTILE(v, 0.5) AS med
            |FROM tnv GROUP BY grp""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW cnote AS
            |SELECT grp, COUNT(*) AS n FROM tnv GROUP BY grp""".stripMargin)
    def show() = e.sql("SHOW MATERIALIZED VIEWS").collect()
      .map(r => r.getString(0) ->
        (Option(r.getString(r.fieldIndex("notes"))),
          Option(r.getString(r.fieldIndex("quantile_exact"))))).toMap
    val byName = show()
    assert(byName("pnote")._1.exists(n =>
      n.contains("DOUBLE") && n.contains("<= 800") &&
        n.contains("rank error")), byName("pnote"))
    assert(byName("cnote")._1.isEmpty, "non-percentile views carry no note")
    assert(byName("pnote")._2.contains("all"),
      "1 value per group is inside the exact regime")
    assert(byName("cnote")._2.isEmpty,
      "non-percentile views report no quantile regime")
    // push one group past KllK=800 live values: its sketch compacts
    // and the view must report the partial regime
    e.sql("INSERT INTO tnv VALUES " +
      (2 to 850).map(i => s"($i,'a',$i)").mkString(","))
    e.sql("REFRESH MATERIALIZED VIEW pnote INCREMENTALLY")
    assert(show()("pnote")._2.contains("partial"),
      "850 values in one group is past the exact regime")
    e.close()
  }

  test("a user alias in the hidden __graft_ namespace fails the shape, not the CREATE") {
    // __graft_h_<i> is the HAVING rewrite's minted-accumulator
    // namespace: a user select alias inside it used to collide with
    // the first hidden accumulator and fail the parquet write
    // mid-CREATE. The shape now rejects the alias up front, so the
    // view CREATEs as a plain full-rerun view and only the
    // INCREMENTALLY refresh refuses.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE thv (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO thv VALUES (1,'a',5), (2,'b',7)")
    e.sql("""CREATE MATERIALIZED VIEW hv AS
            |SELECT grp, SUM(v) AS __graft_h_0
            |FROM thv GROUP BY grp HAVING MIN(v) > 0""".stripMargin)
    assert(e.sql("SELECT grp FROM hv").count() === 2L)
    val err = intercept[IllegalArgumentException] {
      e.sql("REFRESH MATERIALIZED VIEW hv INCREMENTALLY")
    }
    assert(err.getMessage.contains("not incrementally maintainable"),
      err.getMessage)
    e.close()
  }

  test("the hidden __graft_ column namespace is reserved at declaration") {
    // minted columns (fused-read flags, cascade/recompute join keys,
    // HAVING accumulators) all live under __graft_ — a user column
    // there would ambiguously capture one in some later plan, so the
    // namespace is rejected where the error is actionable: CREATE
    // TABLE, ALTER ADD, ALTER RENAME. (Legacy catalogs predating the
    // check still load; the fused read falls back defensively.)
    val e = QueryEngine.scratch(spark)
    val c = intercept[IllegalArgumentException] {
      e.sql("CREATE TABLE thn (k BIGINT PRIMARY KEY, __graft_ow BOOLEAN)")
    }
    assert(c.getMessage.contains("reserved"), c.getMessage)
    e.sql("CREATE TABLE thn (k BIGINT PRIMARY KEY, v BIGINT)")
    val a = intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE thn ADD COLUMN __graft_ck0 BIGINT")
    }
    assert(a.getMessage.contains("reserved"), a.getMessage)
    val r = intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE thn RENAME COLUMN v TO __graft_tv0")
    }
    assert(r.getMessage.contains("reserved"), r.getMessage)
    e.close()
  }

  test("a two-key retracting recompute pushes per-column in-lists into the scan") {
    // Round 16: composite group keys used to take ONLY the null-safe
    // semi-join (no scan pruning). Under the cap each key column's
    // touched values now push into the state read as a conjunction of
    // per-column in-lists — a sound superset of the touched tuples —
    // with the semi-join kept on top as the exact filter. A snapshot
    // after the churn makes the recompute's state read a flat scan,
    // so the restriction must surface as parquet PushedFilters on
    // payload.a AND payload.b; no other refresh path filters those
    // columns (the delta reads restrict by pk).
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t2k (k BIGINT PRIMARY KEY, a STRING, b STRING, v BIGINT)")
    e.sql("INSERT INTO t2k VALUES (1,'a1','b1',5), (2,'a1','b2',7), " +
      "(3,'a2','b1',9), (4,'a3','b3',11)")
    e.sql("""CREATE MATERIALIZED VIEW mv2k AS
            |SELECT a, b, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM t2k GROUP BY a, b""".stripMargin)
    // pre-horizon value change in group (a1,b1) → sketch retraction
    e.sql("UPDATE t2k SET v = 6 WHERE k = 1")
    e.sql("SNAPSHOT t2k") // flatten the recompute's state read
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
      val op = e.sql("REFRESH MATERIALIZED VIEW mv2k INCREMENTALLY")
        .collect().head.getString(0)
      assert(op === "refreshed_incremental")
      val deadline = System.nanoTime() + 15_000_000_000L
      def joined(): String = {
        import scala.jdk.CollectionConverters._
        plans.asScala.mkString("\n===\n")
      }
      def pruned(p: String): Boolean =
        p.contains("EqualTo(payload.a,a1)") &&
          p.contains("EqualTo(payload.b,b1)")
      while (!pruned(joined()) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(pruned(joined()),
        "expected EqualTo(payload.a,a1) AND EqualTo(payload.b,b1) " +
          "pushed into the recompute's flat state scan; pushed " +
          "filters seen:\n" +
          """PushedFilters: \[[^\]]*\]""".r.findAllIn(joined())
            .toSeq.distinct.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
    assert(e.sql("SELECT a, b, dv, n FROM mv2k").collect()
      .map(_.toString).toSet ===
      e.sql("""SELECT a, b, hll_sketch_estimate(hll_sketch_agg(v)) AS dv,
              |COUNT(*) AS n FROM t2k GROUP BY a, b""".stripMargin)
        .collect().map(_.toString).toSet)
    e.close()
  }
}
