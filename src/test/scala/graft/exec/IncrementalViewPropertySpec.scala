package graft.exec

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial IVM check: a deterministic pseudo-random DML workload
  * (inserts, group-moving updates, NULL transitions, deletes — keys
  * colliding across a small space so groups empty and refill) with an
  * INCREMENTALLY refresh after every batch. The merged view must equal
  * the from-scratch aggregate after every single batch; one drifted
  * count, sum, or ghost group fails the run with the batch number.
  */
class IncrementalViewPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("random DML workload: incremental always equals full recompute") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("""CREATE MATERIALIZED VIEW mv AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv,
            |       AVG(v) AS av, COUNT(DISTINCT v) AS dv,
            |       SUM(DISTINCT v) AS sd, AVG(DISTINCT v) AS ad,
            |       MIN(v) AS lo, MAX(v) AS hi,
            |       APPROX_PERCENTILE(v, 0.5) AS med
            |FROM t WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)

    val rnd = new scala.util.Random(0xC0FFEE) // deterministic workload
    val live = scala.collection.mutable.Set.empty[Long]
    var nextKey = 0L
    val groups = Vector("a", "b", "c", "d")

    // the from-scratch AVG is stated as SUM/COUNT — the view's own
    // storage contract (one division of exact accumulators), which a
    // merged refresh must reproduce bit-for-bit
    def freshView(): Set[String] =
      e.sql(s"""SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv,
              |       SUM(v) / COUNT(v) AS av, COUNT(DISTINCT v) AS dv,
              |       SUM(DISTINCT v) AS sd,
              |       SUM(DISTINCT v) / COUNT(DISTINCT v) AS ad,
              |       MIN(v) AS lo, MAX(v) AS hi,
              |       CASE WHEN COUNT(v) > 0 THEN
              |         kll_sketch_get_quantile_double(kll_sketch_agg_double(
              |           CAST(v AS DOUBLE),
              |           ${graft.sql.IncrementalView.KllK}), 0.5) END AS med
              |FROM t WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def mv(): Set[String] =
      e.sql("SELECT grp, n, nv, sv, av, dv, sd, ad, lo, hi, med FROM mv")
        .collect().map(_.toString).toSet

    for (batch <- 1 to 12) {
      // 2-5 random statements per batch
      for (_ <- 0 until (2 + rnd.nextInt(4))) rnd.nextInt(4) match {
        case 0 => // insert 1-3 rows, sometimes NULL v, sometimes v >= 900 (WHERE-excluded)
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextKey += 1; live += nextKey
            val v = rnd.nextInt(4) match {
              case 0 => "NULL"
              case 1 => (900 + rnd.nextInt(100)).toString // outside the view's WHERE
              case _ => rnd.nextInt(500).toString
            }
            s"($nextKey, '${groups(rnd.nextInt(groups.size))}', $v)"
          }
          e.sql(s"INSERT INTO t VALUES ${rows.mkString(", ")}")
        case 1 if live.nonEmpty => // move a row across groups / WHERE boundary
          val k = live.toSeq(rnd.nextInt(live.size))
          val g = groups(rnd.nextInt(groups.size))
          val v = if (rnd.nextBoolean()) "NULL" else rnd.nextInt(1000).toString
          e.sql(s"UPDATE t SET grp = '$g', v = $v WHERE k = $k")
        case 2 if live.nonEmpty => // delete a random key or a whole group
          if (rnd.nextBoolean()) {
            val k = live.toSeq(rnd.nextInt(live.size)); live -= k
            e.sql(s"DELETE FROM t WHERE k = $k")
          } else {
            val g = groups(rnd.nextInt(groups.size))
            val gone = e.sql(s"SELECT k FROM t WHERE grp = '$g'")
              .collect().map(_.getLong(0))
            live --= gone
            e.sql(s"DELETE FROM t WHERE grp = '$g'")
          }
        case _ => // occasionally nothing (no-op refresh path)
      }
      e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
      assert(mv() === freshView(), s"diverged after batch $batch")
    }
    e.close()
  }

  test("random two-table DML workload: join-view incremental equals full recompute") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE dim (k BIGINT PRIMARY KEY, grp STRING)")
    e.sql("CREATE TABLE fct (i BIGINT PRIMARY KEY, dk BIGINT, v BIGINT)")
    e.sql("""CREATE MATERIALIZED VIEW jmv AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv,
            |       AVG(v) AS av, COUNT(DISTINCT v) AS dv,
            |       SUM(DISTINCT v) AS sd,
            |       MIN(v) AS lo, MAX(v) AS hi,
            |       APPROX_COUNT_DISTINCT(v) AS adv,
            |       APPROX_PERCENTILE(v, 0.5) AS med
            |FROM dim JOIN fct ON dim.k = fct.dk
            |WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)

    val rnd = new scala.util.Random(0xD1CE) // deterministic workload
    val dims = scala.collection.mutable.Set.empty[Long]
    val fcts = scala.collection.mutable.Set.empty[Long]
    var nextD = 0L
    var nextF = 0L
    val groups = Vector("a", "b", "c")

    def freshView(): Set[String] =
      e.sql(s"""SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv,
              |       SUM(v) / COUNT(v) AS av, COUNT(DISTINCT v) AS dv,
              |       SUM(DISTINCT v) AS sd,
              |       MIN(v) AS lo, MAX(v) AS hi,
              |       hll_sketch_estimate(hll_sketch_agg(v)) AS adv,
              |       CASE WHEN COUNT(v) > 0 THEN
              |         kll_sketch_get_quantile_double(kll_sketch_agg_double(
              |           CAST(v AS DOUBLE),
              |           ${graft.sql.IncrementalView.KllK}), 0.5) END AS med
              |FROM dim JOIN fct ON dim.k = fct.dk
              |WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def jmv(): Set[String] =
      e.sql("SELECT grp, n, nv, sv, av, dv, sd, lo, hi, adv, med FROM jmv")
        .collect().map(_.toString).toSet

    for (batch <- 1 to 10) {
      for (_ <- 0 until (2 + rnd.nextInt(4))) rnd.nextInt(6) match {
        case 0 => // insert 1-2 dim rows
          val rows = (0 until 1 + rnd.nextInt(2)).map { _ =>
            nextD += 1; dims += nextD
            s"($nextD, '${groups(rnd.nextInt(groups.size))}')"
          }
          e.sql(s"INSERT INTO dim VALUES ${rows.mkString(", ")}")
        case 1 => // insert 1-3 fact rows: NULLs, WHERE-excluded values,
          // dangling keys (no dim match) and fan-out onto hot dims
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextF += 1; fcts += nextF
            val dk = if (rnd.nextInt(5) == 0) 99999L
              else if (dims.nonEmpty) dims.toSeq(rnd.nextInt(dims.size))
              else 99999L
            val v = rnd.nextInt(4) match {
              case 0 => "NULL"
              case 1 => (900 + rnd.nextInt(100)).toString
              case _ => rnd.nextInt(500).toString
            }
            s"($nextF, $dk, $v)"
          }
          e.sql(s"INSERT INTO fct VALUES ${rows.mkString(", ")}")
        case 2 if dims.nonEmpty => // re-group a dim row (moves every pair)
          val k = dims.toSeq(rnd.nextInt(dims.size))
          e.sql(s"UPDATE dim SET grp = '${groups(rnd.nextInt(groups.size))}' WHERE k = $k")
        case 3 if fcts.nonEmpty => // update a fact value / re-key it
          val i = fcts.toSeq(rnd.nextInt(fcts.size))
          if (rnd.nextBoolean()) {
            val v = if (rnd.nextBoolean()) "NULL" else rnd.nextInt(1000).toString
            e.sql(s"UPDATE fct SET v = $v WHERE i = $i")
          } else if (dims.nonEmpty) {
            val dk = dims.toSeq(rnd.nextInt(dims.size))
            e.sql(s"UPDATE fct SET dk = $dk WHERE i = $i")
          }
        case 4 if dims.nonEmpty && rnd.nextInt(3) == 0 => // delete a dim row
          val k = dims.toSeq(rnd.nextInt(dims.size)); dims -= k
          e.sql(s"DELETE FROM dim WHERE k = $k")
        case 5 if fcts.nonEmpty => // delete a fact row
          val i = fcts.toSeq(rnd.nextInt(fcts.size)); fcts -= i
          e.sql(s"DELETE FROM fct WHERE i = $i")
        case _ => // occasionally nothing (one-side-only windows)
      }
      e.sql("REFRESH MATERIALIZED VIEW jmv INCREMENTALLY")
      assert(jmv() === freshView(), s"diverged after batch $batch")
    }
    e.close()
  }

  test("random three-table DML workload: chain-join incremental equals full recompute") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE r3 (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE c3 (c BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE s3 (s BIGINT PRIMARY KEY, ck BIGINT, v BIGINT)")
    e.sql("""CREATE MATERIALIZED VIEW p3 AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv,
            |       COUNT(DISTINCT v) AS dv
            |FROM r3 JOIN c3 ON r3.r = c3.rk JOIN s3 ON c3.c = s3.ck
            |WHERE v IS NULL OR v < 900 GROUP BY zone, seg""".stripMargin)

    val rnd = new scala.util.Random(0xFACADE) // deterministic workload
    val regs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val custs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sales = scala.collection.mutable.ArrayBuffer.empty[Long]
    var id = 0L
    def nid(): Long = { id += 1; id }
    val zones = Vector("e", "w", "n")
    val segs = Vector("a", "b")

    def freshView(): Set[String] =
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv,
              |       COUNT(DISTINCT v) AS dv
              |FROM r3 JOIN c3 ON r3.r = c3.rk JOIN s3 ON c3.c = s3.ck
              |WHERE v IS NULL OR v < 900 GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet
    def p3(): Set[String] =
      e.sql("SELECT zone, seg, n, sv, dv FROM p3").collect().map(_.toString).toSet

    for (batch <- 1 to 8) {
      for (_ <- 0 until (2 + rnd.nextInt(4))) rnd.nextInt(8) match {
        case 0 =>
          val k = nid(); regs += k
          e.sql(s"INSERT INTO r3 VALUES ($k, '${zones(rnd.nextInt(3))}')")
        case 1 =>
          val k = nid(); custs += k
          val rk = if (regs.nonEmpty) regs(rnd.nextInt(regs.size)) else 9999L
          e.sql(s"INSERT INTO c3 VALUES ($k, $rk, '${segs(rnd.nextInt(2))}')")
        case 2 =>
          val k = nid(); sales += k
          val ck = if (custs.nonEmpty) custs(rnd.nextInt(custs.size)) else 9999L
          val v = rnd.nextInt(4) match {
            case 0 => "NULL"
            case 1 => (900 + rnd.nextInt(50)).toString
            case _ => rnd.nextInt(500).toString
          }
          e.sql(s"INSERT INTO s3 VALUES ($k, $ck, $v)")
        case 3 if regs.nonEmpty => // zone rename re-groups transitively
          e.sql(s"UPDATE r3 SET zone = '${zones(rnd.nextInt(3))}' " +
            s"WHERE r = ${regs(rnd.nextInt(regs.size))}")
        case 4 if custs.nonEmpty && regs.nonEmpty => // re-parent + re-segment
          e.sql(s"UPDATE c3 SET rk = ${regs(rnd.nextInt(regs.size))}, " +
            s"seg = '${segs(rnd.nextInt(2))}' " +
            s"WHERE c = ${custs(rnd.nextInt(custs.size))}")
        case 5 if sales.nonEmpty =>
          val v = if (rnd.nextBoolean()) "NULL" else rnd.nextInt(1000).toString
          e.sql(s"UPDATE s3 SET v = $v WHERE s = ${sales(rnd.nextInt(sales.size))}")
        case 6 if custs.nonEmpty && rnd.nextInt(3) == 0 => // orphan a subtree
          val k = custs.remove(rnd.nextInt(custs.size))
          e.sql(s"DELETE FROM c3 WHERE c = $k")
        case 7 if sales.nonEmpty =>
          val k = sales.remove(rnd.nextInt(sales.size))
          e.sql(s"DELETE FROM s3 WHERE s = $k")
        case _ =>
      }
      e.sql("REFRESH MATERIALIZED VIEW p3 INCREMENTALLY")
      assert(p3() === freshView(), s"diverged after batch $batch")
    }
    e.close()
  }

  test("random five-table DML workload: chain-join incremental equals full recompute") {
    // Round 17: chains past 4 tables maintain incrementally. The term
    // construction drops untouched sides' terms, so most batches plan
    // far fewer than 2^5−1 = 31 terms — single-level batches plan one
    // — while batches churning several levels at once exercise the
    // multi-term telescoping delta over a 5-deep hierarchy
    // (zone→seg→customer→order→line), including subtree orphaning at
    // two middle levels.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE r5p (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE n5p (n BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE c5p (c BIGINT PRIMARY KEY, nk BIGINT)")
    e.sql("CREATE TABLE o5p (o BIGINT PRIMARY KEY, ck BIGINT)")
    e.sql("CREATE TABLE l5p (l BIGINT PRIMARY KEY, ok BIGINT, v BIGINT)")
    e.sql("""CREATE MATERIALIZED VIEW p5 AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv,
            |       COUNT(DISTINCT v) AS dv
            |FROM r5p JOIN n5p ON r5p.r = n5p.rk
            |JOIN c5p ON n5p.n = c5p.nk
            |JOIN o5p ON c5p.c = o5p.ck
            |JOIN l5p ON o5p.o = l5p.ok
            |WHERE v IS NULL OR v < 900 GROUP BY zone, seg""".stripMargin)

    val rnd = new scala.util.Random(0x5AB1E) // deterministic workload
    val regs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val nats = scala.collection.mutable.ArrayBuffer.empty[Long]
    val custs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ords = scala.collection.mutable.ArrayBuffer.empty[Long]
    val lines = scala.collection.mutable.ArrayBuffer.empty[Long]
    var id = 0L
    def nid(): Long = { id += 1; id }
    def pick(b: scala.collection.mutable.ArrayBuffer[Long]): Long =
      if (b.nonEmpty) b(rnd.nextInt(b.size)) else 9999L
    val zones = Vector("e", "w")
    val segs = Vector("a", "b")

    def freshView(): Set[String] =
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv,
              |       COUNT(DISTINCT v) AS dv
              |FROM r5p JOIN n5p ON r5p.r = n5p.rk
              |JOIN c5p ON n5p.n = c5p.nk
              |JOIN o5p ON c5p.c = o5p.ck
              |JOIN l5p ON o5p.o = l5p.ok
              |WHERE v IS NULL OR v < 900 GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet
    def p5(): Set[String] =
      e.sql("SELECT zone, seg, n, sv, dv FROM p5").collect().map(_.toString).toSet

    for (batch <- 1 to 8) {
      for (_ <- 0 until (3 + rnd.nextInt(4))) rnd.nextInt(11) match {
        case 0 =>
          val k = nid(); regs += k
          e.sql(s"INSERT INTO r5p VALUES ($k, '${zones(rnd.nextInt(2))}')")
        case 1 =>
          val k = nid(); nats += k
          e.sql(s"INSERT INTO n5p VALUES ($k, ${pick(regs)}, " +
            s"'${segs(rnd.nextInt(2))}')")
        case 2 =>
          val k = nid(); custs += k
          e.sql(s"INSERT INTO c5p VALUES ($k, ${pick(nats)})")
        case 3 =>
          val k = nid(); ords += k
          e.sql(s"INSERT INTO o5p VALUES ($k, ${pick(custs)})")
        case 4 =>
          val k = nid(); lines += k
          val v = rnd.nextInt(4) match {
            case 0 => "NULL"
            case 1 => (900 + rnd.nextInt(50)).toString
            case _ => rnd.nextInt(400).toString
          }
          e.sql(s"INSERT INTO l5p VALUES ($k, ${pick(ords)}, $v)")
        case 5 if regs.nonEmpty => // head rename re-groups 4 levels down
          e.sql(s"UPDATE r5p SET zone = '${zones(rnd.nextInt(2))}' " +
            s"WHERE r = ${pick(regs)}")
        case 6 if nats.nonEmpty && regs.nonEmpty => // re-parent + re-segment
          e.sql(s"UPDATE n5p SET rk = ${pick(regs)}, " +
            s"seg = '${segs(rnd.nextInt(2))}' WHERE n = ${pick(nats)}")
        case 7 if custs.nonEmpty && nats.nonEmpty => // mid re-parent
          e.sql(s"UPDATE c5p SET nk = ${pick(nats)} WHERE c = ${pick(custs)}")
        case 8 if lines.nonEmpty => // leaf value churn across the WHERE
          val v = if (rnd.nextBoolean()) "NULL" else rnd.nextInt(1000).toString
          e.sql(s"UPDATE l5p SET v = $v WHERE l = ${pick(lines)}")
        case 9 if custs.nonEmpty && rnd.nextInt(3) == 0 => // orphan a subtree
          val k = custs.remove(rnd.nextInt(custs.size))
          e.sql(s"DELETE FROM c5p WHERE c = $k")
        case 10 if ords.nonEmpty && rnd.nextInt(2) == 0 => // orphan leaves
          val k = ords.remove(rnd.nextInt(ords.size))
          e.sql(s"DELETE FROM o5p WHERE o = $k")
        case _ =>
      }
      e.sql("REFRESH MATERIALIZED VIEW p5 INCREMENTALLY")
      assert(p5() === freshView(), s"diverged after batch $batch")
    }
    e.close()
  }

  test("random arbitrary-churn workload: aux-backed MIN/MAX incremental equals full recompute") {
    // NO sketch in the view, so NO gate: every batch — including ones
    // that update/delete pre-horizon rows holding the group extreme —
    // must merge INCREMENTALLY and still equal the full recompute
    // (the round-15 aux-frame retraction)
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("""CREATE MATERIALIZED VIEW xmm AS
            |SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
            |FROM t WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)

    val rnd = new scala.util.Random(0xABBA) // deterministic workload
    val live = scala.collection.mutable.Set.empty[Long]
    var nextKey = 0L
    val groups = Vector("a", "b", "c")

    def freshView(): Set[String] =
      e.sql("""SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
              |FROM t WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def xmm(): Set[String] =
      e.sql("SELECT grp, lo, hi, n FROM xmm").collect().map(_.toString).toSet

    for (batch <- 1 to 12) {
      for (_ <- 0 until (2 + rnd.nextInt(4))) rnd.nextInt(4) match {
        case 0 => // insert rows including fresh extremes / NULLs / excluded
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextKey += 1; live += nextKey
            val v = rnd.nextInt(5) match {
              case 0 => "NULL"
              case 1 => (900 + rnd.nextInt(100)).toString
              case 2 => (-rnd.nextInt(500)).toString
              case _ => rnd.nextInt(899).toString
            }
            s"($nextKey, '${groups(rnd.nextInt(groups.size))}', $v)"
          }
          e.sql(s"INSERT INTO t VALUES ${rows.mkString(", ")}")
        case 1 if live.nonEmpty => // update ANY live row (pre-horizon too)
          val k = live.toSeq(rnd.nextInt(live.size))
          val v = rnd.nextInt(5) match {
            case 0 => "NULL"
            case 1 => (900 + rnd.nextInt(100)).toString
            case 2 => (-rnd.nextInt(500)).toString
            case _ => rnd.nextInt(899).toString
          }
          val g = groups(rnd.nextInt(groups.size))
          e.sql(s"UPDATE t SET grp = '$g', v = $v WHERE k = $k")
        case 2 if live.nonEmpty => // delete ANY live row — the one most
          // likely to hold a stored extreme is fair game
          val k = live.toSeq(rnd.nextInt(live.size)); live -= k
          e.sql(s"DELETE FROM t WHERE k = $k")
        case _ => ()
      }
      e.sql("REFRESH MATERIALIZED VIEW xmm INCREMENTALLY")
      assert(xmm() === freshView(), s"diverged after batch $batch")
    }
    e.close()
  }

  test("random arbitrary-churn workload: sketch view incremental equals full recompute") {
    // APPROX_COUNT_DISTINCT rides alongside MIN/MAX/COUNT/SUM under
    // fully random DML — pre-horizon updates and deletes included.
    // Each refresh dispatches on the old-side probe: sketch union when
    // nothing retracted, touched-group sketch recompute when something
    // did (round 15 — previously a retracting batch REFUSED and needed
    // a full refresh). Every batch must merge INCREMENTALLY (asserted
    // on the op string — no silent full-refresh fallback) and the
    // estimate must equal the from-scratch mergeable-sketch
    // expression's.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("""CREATE MATERIALIZED VIEW mm AS
            |SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n,
            |       SUM(v) AS sv, APPROX_COUNT_DISTINCT(v) AS dv
            |FROM t WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)

    val rnd = new scala.util.Random(0xBEEF) // deterministic workload
    var nextKey = 0L
    val live = scala.collection.mutable.Set.empty[Long]
    val groups = Vector("a", "b", "c")

    // dv is stated as the SAME mergeable-sketch expression the view
    // stores — union order must never change the estimate, and a
    // recomputed touched group re-derives this exact value
    def freshView(): Set[String] =
      e.sql("""SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n,
              |       SUM(v) AS sv,
              |       hll_sketch_estimate(hll_sketch_agg(v)) AS dv
              |FROM t WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)
        .collect().map(_.toString).toSet
    def mm(): Set[String] =
      e.sql("SELECT grp, lo, hi, n, sv, dv FROM mm").collect().map(_.toString).toSet

    for (batch <- 1 to 12) {
      for (_ <- 0 until (2 + rnd.nextInt(3))) rnd.nextInt(4) match {
        case 0 | 3 => // insert 1-3 rows: extremes, NULLs, WHERE-excluded
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextKey += 1; live += nextKey
            val v = rnd.nextInt(5) match {
              case 0 => "NULL"
              case 1 => (900 + rnd.nextInt(100)).toString
              case 2 => (-rnd.nextInt(500)).toString // push MIN down
              case _ => rnd.nextInt(899).toString
            }
            s"($nextKey, '${groups(rnd.nextInt(groups.size))}', $v)"
          }
          e.sql(s"INSERT INTO t VALUES ${rows.mkString(", ")}")
        case 1 if live.nonEmpty => // update ANY live row — a pre-horizon
          // contributing one retracts its sketched value
          val k = live.toSeq(rnd.nextInt(live.size))
          val v = if (rnd.nextBoolean()) "NULL" else rnd.nextInt(1000).toString
          val g = groups(rnd.nextInt(groups.size))
          e.sql(s"UPDATE t SET grp = '$g', v = $v WHERE k = $k")
        case 2 if live.nonEmpty => // delete ANY live row — the last
          // holder of a value must drop it from the distinct estimate
          val k = live.toSeq(rnd.nextInt(live.size)); live -= k
          e.sql(s"DELETE FROM t WHERE k = $k")
        case _ => ()
      }
      val op = e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY")
        .collect().head.getString(0)
      assert(op === "refreshed_incremental", s"batch $batch fell back: $op")
      assert(mm() === freshView(), s"diverged after batch $batch")
    }
    e.close()
  }

  test("adversarial cap-crossing churn: chain-join incremental equals full recompute") {
    // Round 16: bulk statements touching MORE keys than the 256-key
    // inline cap, interleaved with ordinary point churn. The middle
    // table holds 320 rows, so a WHERE-less UPDATE forces every
    // cascade hop out of it past the cap — the refresh must keep its
    // pruning through the distributed semi-join restriction and stay
    // exactly equal to the from-scratch aggregate, batch after batch.
    // Bulk deletes + re-inserts of the same key range stress the
    // signed-delta cancellation at the same scale.
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE rb (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE cb (c BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE sb (s BIGINT PRIMARY KEY, ck BIGINT, v BIGINT)")
    e.sql(s"INSERT INTO rb VALUES ${(1L to 6L)
      .map(i => s"($i, 'z$i')").mkString(", ")}")
    e.sql(s"INSERT INTO cb VALUES ${(1L to 320L)
      .map(i => s"($i, ${i % 6 + 1}, 's${i % 2}')").mkString(", ")}")
    e.sql(s"INSERT INTO sb VALUES ${(1L to 500L)
      .map(i => s"($i, ${i % 320 + 1}, ${i % 97})").mkString(", ")}")
    e.sql("""CREATE MATERIALIZED VIEW pb AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv,
            |       COUNT(DISTINCT v) AS dv
            |FROM rb JOIN cb ON rb.r = cb.rk JOIN sb ON cb.c = sb.ck
            |WHERE v < 90 GROUP BY zone, seg""".stripMargin)

    val rnd = new scala.util.Random(0x5CA1E) // deterministic workload
    def freshView(): Set[String] =
      e.sql("""SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv,
              |       COUNT(DISTINCT v) AS dv
              |FROM rb JOIN cb ON rb.r = cb.rk JOIN sb ON cb.c = sb.ck
              |WHERE v < 90 GROUP BY zone, seg""".stripMargin)
        .collect().map(_.toString).toSet
    def pb(): Set[String] =
      e.sql("SELECT zone, seg, n, sv, dv FROM pb").collect().map(_.toString).toSet

    for (batch <- 1 to 6) {
      batch % 3 match {
        case 1 => // bulk re-segment EVERY middle row (320 keys > cap)
          e.sql(s"UPDATE cb SET seg = 's${rnd.nextInt(3)}'")
        case 2 => // bulk delete + re-insert a 300-key fact range with
          // shifted values — touched set crosses the cap and the
          // delete/insert pairs must cancel exactly per key
          e.sql("DELETE FROM sb WHERE s <= 300")
          e.sql(s"INSERT INTO sb VALUES ${(1L to 300L)
            .map(i => s"($i, ${(i + batch) % 320 + 1}, ${(i + batch) % 97})")
            .mkString(", ")}")
        case _ => // bulk zone flip on the head (inline regime) plus a
          // >cap touched middle through re-parenting
          e.sql(s"UPDATE rb SET zone = 'w$batch' WHERE r <= 3")
          e.sql(s"UPDATE cb SET rk = ${rnd.nextInt(6) + 1} WHERE c <= 280")
      }
      // a little point churn on top
      e.sql(s"UPDATE sb SET v = ${rnd.nextInt(97)} " +
        s"WHERE s = ${rnd.nextInt(500) + 1}")
      val op = e.sql("REFRESH MATERIALIZED VIEW pb INCREMENTALLY")
        .collect().head.getString(0)
      assert(op === "refreshed_incremental", s"batch $batch fell back: $op")
      assert(pb() === freshView(), s"diverged after batch $batch")
    }
    e.close()
  }

  test("fused two-bound reads equal forced-decline reads under random churn") {
    // fusedHorizonStates silently declines for txn / attached /
    // differing-checkpoint / hidden-column refreshes — a
    // correct-but-slower path by contract. Run the SAME seeded
    // workload through two engines, one with fusion forcibly declined
    // (the test hook models every decline condition at once), and
    // assert the stored views stay identical after every refresh: a
    // future decline-condition bug surfaces as a diff here, not as a
    // silent slow path or a fused-only divergence. Comparison covers
    // every stored column including the hidden accumulators and aux
    // frames; sketch BYTES are insertion-order-sensitive by
    // serialization, so the two binary columns compare through their
    // readout contract (quantile / estimate) instead.
    import org.apache.spark.sql.functions._
    val eF = QueryEngine.scratch(spark) // fusion eligible
    val eD = QueryEngine.scratch(spark) // fusion forcibly declined
    eD.matViews.disableFusedReads = true
    val engines = Seq(eF, eD)
    def both(sql: String): Unit = engines.foreach(_.sql(sql))
    both("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    both("CREATE TABLE fx (i BIGINT PRIMARY KEY, tk BIGINT, w BIGINT)")
    both("""CREATE MATERIALIZED VIEW fmv AS
           |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv,
           |       AVG(v) AS av, COUNT(DISTINCT v) AS dv,
           |       MIN(v) AS lo, MAX(v) AS hi,
           |       APPROX_PERCENTILE(v, 0.5) AS med,
           |       APPROX_COUNT_DISTINCT(v) AS ad
           |FROM t WHERE v IS NULL OR v < 900 GROUP BY grp""".stripMargin)
    both("""CREATE MATERIALIZED VIEW fjv AS
           |SELECT grp, COUNT(*) AS n, SUM(w) AS sw,
           |       COUNT(DISTINCT w) AS dw, MIN(w) AS lw
           |FROM t JOIN fx ON t.k = fx.tk GROUP BY grp""".stripMargin)

    def storedRows(e: QueryEngine, name: String): Map[String, Set[String]] = {
      val ver = new java.io.File(s"${e.baseDir}/matviews/$name")
        .listFiles.filter(_.getName.startsWith("v=")).maxBy(_.getName)
      val main = spark.read.parquet(ver.getPath)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(df.columns.sorted.toIndexedSeq.map { c =>
          df.schema(c).dataType match {
            case org.apache.spark.sql.types.BinaryType
                if c.startsWith("__graft_kll_") =>
              val support = s"__graft_n_${c.stripPrefix("__graft_kll_")}"
              when(col(support) > 0, call_function(
                "kll_sketch_get_quantile_double", col(c), lit(0.5))).as(c)
            case org.apache.spark.sql.types.BinaryType =>
              call_function("hll_sketch_estimate", col(c)).as(c)
            case _ => col(c)
          }
        }: _*).collect().map(_.toString).toSet
      val auxes = ver.listFiles.filter(_.isDirectory).sortBy(_.getName)
        .map(d => d.getName ->
          canon(spark.read.parquet(d.getPath))).toMap
      auxes + ("" -> canon(main))
    }

    val rnd = new scala.util.Random(0xF05ED) // deterministic workload
    var nextK = 0L; var nextI = 0L
    val live = scala.collection.mutable.ArrayBuffer.empty[Long]
    val groups = Vector("a", "b", "c")
    for (batch <- 1 to 8) {
      for (_ <- 0 until (2 + rnd.nextInt(3))) rnd.nextInt(5) match {
        case 0 => // insert dims, sometimes NULL v
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextK += 1; live += nextK
            val v = if (rnd.nextInt(4) == 0) "NULL" else rnd.nextInt(500).toString
            s"($nextK, '${groups(rnd.nextInt(groups.size))}', $v)"
          }
          both(s"INSERT INTO t VALUES ${rows.mkString(", ")}")
        case 1 if live.nonEmpty => // facts against existing dims
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextI += 1
            s"($nextI, ${live(rnd.nextInt(live.size))}, ${rnd.nextInt(80)})"
          }
          both(s"INSERT INTO fx VALUES ${rows.mkString(", ")}")
        case 2 if live.nonEmpty => // group/value churn (retractions)
          val k = live(rnd.nextInt(live.size))
          val v = if (rnd.nextBoolean()) "NULL" else rnd.nextInt(1000).toString
          both(s"UPDATE t SET grp = '${groups(rnd.nextInt(groups.size))}', " +
            s"v = $v WHERE k = $k")
        case 3 if live.nonEmpty => // deletes (join orphans too)
          val k = live.remove(rnd.nextInt(live.size))
          both(s"DELETE FROM t WHERE k = $k")
        case _ => // checkpoint: moves the fused read's shared base
          both(if (rnd.nextBoolean()) "SNAPSHOT t" else "SNAPSHOT fx")
      }
      both("REFRESH MATERIALIZED VIEW fmv INCREMENTALLY")
      both("REFRESH MATERIALIZED VIEW fjv INCREMENTALLY")
      for (view <- Seq("fmv", "fjv"))
        assert(storedRows(eF, view) === storedRows(eD, view),
          s"$view diverged between fused and declined reads after batch $batch")
    }
    engines.foreach(_.close())
  }
}
