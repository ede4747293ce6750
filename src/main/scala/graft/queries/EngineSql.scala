package graft.queries

import graft.exec.QueryEngine
import graft.streaming.StreamingDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws, lit, max, md5, min, slice, split}

/** Correctness queries that exercise the ENGINE SHELL — every one of
  * these routes through `engine.sql(<string>)`: the statement router,
  * the FOR SYSTEM_TIME string preprocessor, catalog-resolved temp
  * views, DML-as-event-appends with sequence assignment, and snapshot-
  * accelerated time travel. The oracles recompute the same semantics
  * algebraically over the fixture parquet (the q_state_* pattern in
  * Temporal.scala), so a regression anywhere in the shell shows up as
  * a hash mismatch.
  */
object EngineSql {

  /** Engine with the deterministic synthetic orders event log attached
    * (same log as Temporal.ordersEventLog, so the same oracles apply). */
  private def evtEngine(s: SparkSession, dir: String): QueryEngine = {
    val e = QueryEngine.scratch(s)
    e.attachEventLog("orders_evt", "o_orderkey", Temporal.ordersEventLog(s, dir))
    e
  }

  /** FOR SYSTEM_TIME AS OF @SEQ:N through the SQL string path
    * (sql_bridge.rs:304-320 + 47-78). */
  val qSqlAsOfSeq = Q(
    "q_sql_asof_seq",
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 7 = 0 AND o_orderkey * 3 + 1 <= 22501
      |            THEN 'R' ELSE o_orderstatus END AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey * 3 <= 22501
      |  AND NOT (o_orderkey % 11 = 0 AND o_orderkey * 3 + 2 <= 22501)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    evtEngine(s, dir).sql(
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(o_totalprice AS DOUBLE) AS total
        |FROM orders_evt FOR SYSTEM_TIME AS OF @SEQ:22501
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** FOR SYSTEM_TIME AS OF '<timestamp>' through the SQL string path —
    * resolved to the max sequence with event ts <= cutoff
    * (engine.rs:2010); the synthetic log has ts = 2020-01-01 + seq
    * seconds, so the cutoff below equals seq <= 30000. */
  val qSqlAsOfTs = Q(
    "q_sql_asof_ts",
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 7 = 0 AND o_orderkey * 3 + 1 <= 30000
      |            THEN 'R' ELSE o_orderstatus END AS status
      |FROM orders
      |WHERE o_orderkey * 3 <= 30000
      |  AND NOT (o_orderkey % 11 = 0 AND o_orderkey * 3 + 2 <= 30000)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    evtEngine(s, dir).sql(
      """SELECT o_orderkey, o_orderstatus AS status
        |FROM orders_evt FOR SYSTEM_TIME AS OF '2020-01-01 08:20:00'
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** FOR SYSTEM_TIME ALL — full drift history through the SQL path
    * (sql_bridge.rs:6494-6556). */
  val qSqlSystemAll = Q(
    "q_sql_system_all",
    """WITH ev AS (
      |  SELECT o_orderkey * 3 AS sequence, o_orderkey, 'INSERT' AS event_type,
      |         o_orderstatus AS status
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey * 3 + 1, o_orderkey, 'PATCH', 'R'
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey * 3 + 2, o_orderkey, 'SOFT_DELETE', o_orderstatus
      |  FROM orders WHERE o_orderkey % 11 = 0)
      |SELECT sequence, o_orderkey AS pk_key, event_type, status
      |FROM ev WHERE o_orderkey % 100 = 0
      |ORDER BY pk_key, sequence""".stripMargin) { (s, dir) =>
    evtEngine(s, dir).sql(
      """SELECT sequence, o_orderkey AS pk_key, event_type,
        |       o_orderstatus AS status
        |FROM orders_evt FOR SYSTEM_TIME ALL
        |WHERE o_orderkey % 100 = 0
        |ORDER BY pk_key, sequence""".stripMargin)
  }

  /** FOR SYSTEM_TIME BETWEEN a AND b — sequence-range change stream
    * (superset; the reference parses-then-errors, README.md:94-96). */
  val qSqlBetween = Q(
    "q_sql_between",
    """WITH ev AS (
      |  SELECT o_orderkey * 3 AS sequence, o_orderkey, 'INSERT' AS event_type
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey * 3 + 1, o_orderkey, 'PATCH'
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey * 3 + 2, o_orderkey, 'SOFT_DELETE'
      |  FROM orders WHERE o_orderkey % 11 = 0)
      |SELECT sequence, o_orderkey AS pk_key, event_type
      |FROM ev WHERE sequence BETWEEN 3000 AND 4500
      |ORDER BY sequence, event_type""".stripMargin) { (s, dir) =>
    evtEngine(s, dir).sql(
      """SELECT sequence, o_orderkey AS pk_key, event_type
        |FROM orders_evt FOR SYSTEM_TIME BETWEEN 3000 AND 4500
        |ORDER BY sequence, event_type""".stripMargin)
  }

  /** Snapshot-accelerated time travel: checkpoint the state at 15000,
    * then read AS OF 22501 — replay covers only (15000, 22501], and the
    * result must hash-match the full-replay oracle exactly. */
  val qSqlSnapshot = Q(
    "q_sql_snapshot",
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 7 = 0 AND o_orderkey * 3 + 1 <= 22501
      |            THEN 'R' ELSE o_orderstatus END AS status
      |FROM orders
      |WHERE o_orderkey * 3 <= 22501
      |  AND NOT (o_orderkey % 11 = 0 AND o_orderkey * 3 + 2 <= 22501)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val e = evtEngine(s, dir)
    e.snapshot("orders_evt", atSeq = Some(15000L))
    e.sql(
      """SELECT o_orderkey, o_orderstatus AS status
        |FROM orders_evt FOR SYSTEM_TIME AS OF @SEQ:22501
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Full DML lifecycle through SQL strings: CREATE TABLE → INSERT ...
    * SELECT → UPDATE → DELETE → SELECT current state. Every write is an
    * event append with monotonic sequences on a persistent parquet log;
    * the oracle simulates the same fold over the base fixture. */
  private def lifecycleEngine(s: SparkSession, dir: String): QueryEngine = {
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    e
  }

  val qLifecycleCurrent = Q(
    "q_lifecycle_current",
    """SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |       CASE WHEN c_acctbal > 5000 THEN 'vip' ELSE 'new' END AS status
      |FROM customer
      |WHERE c_custkey < 500 AND c_custkey % 10 <> 0
      |ORDER BY k""".stripMargin) { (s, dir) =>
    lifecycleEngine(s, dir)
      .sql("SELECT k, CAST(bal AS DOUBLE) AS bal, status FROM acct ORDER BY k")
  }

  /** Time travel to the post-INSERT batch boundary (sequence 500):
    * updates and deletes are not yet visible. */
  val qLifecycleAsOf = Q(
    "q_lifecycle_asof",
    """SELECT c_custkey AS k, 'new' AS status
      |FROM customer WHERE c_custkey < 500
      |ORDER BY k""".stripMargin) { (s, dir) =>
    lifecycleEngine(s, dir)
      .sql("""SELECT k, status FROM acct FOR SYSTEM_TIME AS OF @SEQ:500
             |ORDER BY k""".stripMargin)
  }

  /** Buffered transactions through SQL strings (sql_bridge.rs:453-568):
    * a rolled-back transaction leaves no trace (neither its UPDATE nor
    * its DELETE), and a committed one applies exactly the statements
    * that survived its savepoint rollback — the DELETE between SAVEPOINT
    * and ROLLBACK TO vanishes, the DELETE after it lands. The oracle
    * recomputes the surviving statements algebraically. */
  val qTxnLifecycle = Q(
    "q_txn_lifecycle",
    """SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |       CASE WHEN c_acctbal > 5000 THEN 'vip' ELSE 'new' END AS status
      |FROM customer
      |WHERE c_custkey < 400 AND c_custkey % 10 <> 0
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 400""".stripMargin)
    e.sql("BEGIN")
    e.sql("UPDATE acct SET status = 'phantom'")
    e.sql("DELETE FROM acct WHERE k < 100")
    e.sql("ROLLBACK") // none of the above survives
    e.sql("BEGIN")
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("SAVEPOINT sp1")
    e.sql("DELETE FROM acct WHERE k % 2 = 0")
    e.sql("ROLLBACK TO SAVEPOINT sp1") // the % 2 delete vanishes
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    e.sql("COMMIT")
    e.sql("SELECT k, CAST(bal AS DOUBLE) AS bal, status FROM acct ORDER BY k")
  }

  /** FK-enforced DML lifecycle: parent + child tables with a real
    * REFERENCES constraint, inserts validated against the parent,
    * RESTRICT blocking observed (the blocked DELETE raises and changes
    * nothing), then children removed so the parent delete succeeds.
    * The oracle recomputes the surviving rows algebraically — if any
    * FK guard misfired (blocked a valid write or let the blocked
    * delete through), the hash diverges. */
  val qFkLifecycle = Q(
    "q_fk_lifecycle",
    """SELECT CAST(n.n_nationkey AS BIGINT) AS nk, n.n_name AS nname,
      |       COUNT(c.c_custkey) AS n_cust
      |FROM nation n LEFT JOIN customer c
      |  ON c.c_nationkey = n.n_nationkey AND c.c_custkey < 300
      |     AND c.c_nationkey <> 3
      |WHERE n.n_nationkey <> 7
      |GROUP BY 1, 2
      |ORDER BY nk""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("nation_src", s"$dir/nation.parquet")
    e.attachExternal("customer_src", s"$dir/customer.parquet")
    e.sql("CREATE TABLE nat (nk BIGINT PRIMARY KEY, nname STRING)")
    e.sql("""CREATE TABLE cust (ck BIGINT PRIMARY KEY,
            |  nk BIGINT REFERENCES nat(nk))""".stripMargin)
    e.sql("INSERT INTO nat SELECT n_nationkey, n_name FROM nation_src")
    // every inserted row passes the FK check against nat
    e.sql("""INSERT INTO cust
            |SELECT c_custkey, c_nationkey FROM customer_src
            |WHERE c_custkey < 300""".stripMargin)
    // RESTRICT: nation 3 still has customers — the delete must raise
    // and leave state untouched
    val blocked =
      try { e.sql("DELETE FROM nat WHERE nk = 3"); false }
      catch { case _: IllegalArgumentException => true }
    require(blocked, "FK RESTRICT delete unexpectedly succeeded")
    // remove nations 3 and 7's children, then nation 7 itself
    e.sql("DELETE FROM cust WHERE nk IN (3, 7)")
    e.sql("DELETE FROM nat WHERE nk = 7") // unreferenced now
    e.sql("""SELECT n.nk, n.nname, COUNT(c.ck) AS n_cust
            |FROM nat n LEFT JOIN cust c ON c.nk = n.nk
            |GROUP BY n.nk, n.nname
            |ORDER BY n.nk""".stripMargin)
  }

  /** Materialized view + REFRESH (views.rs:40-123): the matview serves
    * its stored aggregation — frozen through base-table UPDATE/DELETE —
    * until REFRESH MATERIALIZED VIEW recomputes it. One result carries
    * both phases; the oracle recomputes each algebraically, so either a
    * stale read showing through or a refresh serving old data diverges
    * the hash. */
  val qMatView = Q(
    "q_matview",
    """WITH post AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |         CASE WHEN c_acctbal > 5000 THEN 'vip' ELSE 'new' END AS status
      |  FROM customer
      |  WHERE c_custkey < 500 AND c_custkey % 10 <> 0)
      |SELECT 'stale' AS phase, 'new' AS status, COUNT(*) AS n,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM customer WHERE c_custkey < 500
      |UNION ALL
      |SELECT 'fresh' AS phase, status, COUNT(*) AS n,
      |       CAST(SUM(CAST(bal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM post GROUP BY status
      |ORDER BY phase, status""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW acct_stats AS
            |SELECT status, COUNT(*) AS n,
            |       CAST(SUM(CAST(bal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
            |FROM acct GROUP BY status""".stripMargin)
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    // pinned before REFRESH deletes the superseded data version
    val stale = e.sql("SELECT 'stale' AS phase, status, n, total_bal FROM acct_stats")
      .localCheckpoint()
    e.sql("REFRESH MATERIALIZED VIEW acct_stats")
    val fresh = e.sql("SELECT 'fresh' AS phase, status, n, total_bal FROM acct_stats")
    stale.unionByName(fresh).orderBy("phase", "status")
  }

  /** REFRESH MATERIALIZED VIEW ... INCREMENTALLY ([REF-GAP]: the
    * reference refreshes by full re-run only, views.rs:40-123): after
    * updates, deletes, and an insert with a NULL aggregate input, the
    * merged view must equal the from-scratch aggregate the oracle
    * computes — COUNT vs COUNT(col) divergence, a surviving deleted
    * group, or broken NULL-sum support diverges rows or hash. */
  val qMatViewInc = Q(
    "q_matview_inc",
    """WITH post AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |         CASE WHEN c_acctbal > 5000 THEN 'vip' ELSE 'new' END AS status
      |  FROM customer
      |  WHERE c_custkey < 500 AND c_custkey % 10 <> 0
      |  UNION ALL
      |  SELECT CAST(9001 AS BIGINT), CAST(NULL AS DOUBLE), 'vip')
      |SELECT status, COUNT(*) AS n, COUNT(bal) AS nb,
      |       CAST(SUM(CAST(bal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM post GROUP BY status
      |ORDER BY status""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW inc_stats AS
            |SELECT status, COUNT(*) AS n, COUNT(bal) AS nb,
            |       SUM(CAST(bal AS DECIMAL(12,2))) AS total
            |FROM acct GROUP BY status""".stripMargin)
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    e.sql("INSERT INTO acct VALUES (9001, NULL, 'vip')")
    e.sql("REFRESH MATERIALIZED VIEW inc_stats INCREMENTALLY")
    e.sql("""SELECT status, n, nb, CAST(total AS DOUBLE) AS total_bal
            |FROM inc_stats ORDER BY status""".stripMargin)
  }

  /** MIN/MAX incremental maintenance under ARBITRARY churn (round 15:
    * MIN/MAX ride the same hidden per-(group, value) aux frame as
    * COUNT(DISTINCT), so retraction is exact and the round-14 append
    * gate is gone): after the tail-insert batch with tail-local churn,
    * the workload also updates and deletes PRE-horizon rows — the very
    * rows that can hold a group's stored extreme — and the merged view
    * must still equal the from-scratch aggregate (the overlay
    * re-derives each touched group's extreme over its surviving aux
    * values). The oracle recomputes the final state with the identical
    * integer (cents) arithmetic; cents derive via
    * `FLOOR(c_acctbal*100 + 0.5)` (exact IEEE ops — a bare
    * double->BIGINT CAST rounds in DuckDB but truncates in Spark) and
    * the BIGINT sums are engine-exact. */
  val qMatViewMinMax = Q(
    "q_matview_minmax",
    """WITH src AS (
      |  SELECT c_custkey AS k,
      |         'g' || CAST(c_nationkey % 5 AS VARCHAR) AS grp,
      |         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS v
      |  FROM customer
      |  WHERE c_custkey < 400 OR c_custkey BETWEEN 1000 AND 1099),
      |post AS (
      |  SELECT k, grp,
      |         CASE WHEN k >= 1000 AND k % 13 = 0 THEN v + 7
      |              WHEN k < 400 AND k % 19 = 0 THEN v - 100000
      |              ELSE v END AS v
      |  FROM src WHERE NOT (k >= 1000 AND k % 17 = 0)
      |             AND NOT (k < 400 AND k % 23 = 0))
      |SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n,
      |       CAST(SUM(v) AS BIGINT) AS sv
      |FROM post GROUP BY grp ORDER BY grp""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE mtab (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("""INSERT INTO mtab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 5 AS STRING),
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey < 400""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW mm AS
            |SELECT grp, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n,
            |       SUM(v) AS sv
            |FROM mtab GROUP BY grp""".stripMargin)
    e.sql("""INSERT INTO mtab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 5 AS STRING),
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("UPDATE mtab SET v = v + 7 WHERE k >= 1000 AND k % 13 = 0")
    e.sql("DELETE FROM mtab WHERE k >= 1000 AND k % 17 = 0")
    // pre-horizon retraction: push touched groups' extremes DOWN (the
    // new values set fresh MINs) and delete rows behind the horizon —
    // both were gate-refused before round 15
    e.sql("UPDATE mtab SET v = v - 100000 WHERE k < 400 AND k % 19 = 0")
    e.sql("DELETE FROM mtab WHERE k < 400 AND k % 23 = 0")
    e.sql("REFRESH MATERIALIZED VIEW mm INCREMENTALLY")
    e.sql("SELECT grp, lo, hi, n, sv FROM mm ORDER BY grp")
  }

  /** AVG incremental maintenance (round 14): AVG rewrites to hidden
    * exact SUM/COUNT accumulators in the stored view and the visible
    * column is always ONE division of them, so an incremental merge
    * reproduces a full refresh bit-for-bit. The workload churns
    * PRE-horizon rows too (updates and deletes behind the refresh
    * horizon) — AVG is fully self-maintainable, unlike MIN/MAX, so no
    * gate applies. NULL inputs drop from the hidden count; cents are
    * exact BIGINTs (`FLOOR(x*100 + 0.5)`), so the surfaced double is a
    * single IEEE division of exact integers — deterministic across
    * engines (the oracle states the same SUM/COUNT division). */
  val qMatViewAvg = Q(
    "q_matview_avg",
    """WITH src AS (
      |  SELECT c_custkey AS k,
      |         'g' || CAST(c_nationkey % 4 AS VARCHAR) AS grp,
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL
      |              ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END AS v
      |  FROM customer
      |  WHERE c_custkey < 400 OR c_custkey BETWEEN 1000 AND 1099),
      |post AS (
      |  SELECT k, grp,
      |         CASE WHEN k % 11 = 0 THEN v + 3 ELSE v END AS v
      |  FROM src WHERE k % 13 <> 0)
      |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(COUNT(v) AS BIGINT) AS nv,
      |       CAST(SUM(v) AS DOUBLE) / COUNT(v) AS av
      |FROM post GROUP BY grp ORDER BY grp""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE atab (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("""INSERT INTO atab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 4 AS STRING),
            |       CASE WHEN c_custkey % 7 = 0 THEN NULL
            |            ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END
            |FROM customer WHERE c_custkey < 400""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW va AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, AVG(v) AS av
            |FROM atab GROUP BY grp""".stripMargin)
    e.sql("""INSERT INTO atab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 4 AS STRING),
            |       CASE WHEN c_custkey % 7 = 0 THEN NULL
            |            ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("UPDATE atab SET v = v + 3 WHERE k % 11 = 0")
    e.sql("DELETE FROM atab WHERE k % 13 = 0")
    e.sql("REFRESH MATERIALIZED VIEW va INCREMENTALLY")
    e.sql("SELECT grp, n, nv, av FROM va ORDER BY grp")
  }

  /** APPROX_COUNT_DISTINCT incremental maintenance (round 14; fully
    * retractable since round 15): the
    * view stores a hidden mergeable DataSketches HLL sketch and
    * surfaces its estimate. An append-shaped refresh unions only the
    * touched rows' new-state sketch (max-per-register — order-free, so
    * the estimate equals a full refresh exactly); when a touched row
    * WAS contributing at the old horizon — this workload updates and
    * deletes PRE-horizon rows — the sketch cannot retract it, so the
    * refresh recomputes only the TOUCHED groups' sketches from
    * group-key-pruned current state (full-refresh semantics per
    * touched group; until round 15 such a refresh refused outright).
    * The fixture bounds each group's cardinality well
    * inside the sketch's exact sparse mode, so the estimate equals
    * COUNT(DISTINCT) — which is what the oracle states (DuckDB has no
    * DataSketches HLL; the in-engine full-vs-incremental equality is
    * spec-asserted separately). */
  val qMatViewAcd = Q(
    "q_matview_acd",
    """WITH src AS (
      |  SELECT c_custkey AS k,
      |         'g' || CAST(c_nationkey % 4 AS VARCHAR) AS grp,
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL
      |              ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) % 500
      |         END AS v
      |  FROM customer
      |  WHERE c_custkey < 400 OR c_custkey BETWEEN 1000 AND 1099),
      |post AS (
      |  SELECT k, grp,
      |         CASE WHEN k % 13 = 0 THEN v + 7 ELSE v END AS v
      |  FROM src WHERE k % 17 <> 0)
      |SELECT grp, CAST(COUNT(DISTINCT v) AS BIGINT) AS dv,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM post GROUP BY grp ORDER BY grp""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE ctab (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("""INSERT INTO ctab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 4 AS STRING),
            |       CASE WHEN c_custkey % 7 = 0 THEN NULL
            |            ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) % 500
            |       END
            |FROM customer WHERE c_custkey < 400""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW vcd AS
            |SELECT grp, APPROX_COUNT_DISTINCT(v) AS dv, COUNT(*) AS n
            |FROM ctab GROUP BY grp""".stripMargin)
    e.sql("""INSERT INTO ctab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 4 AS STRING),
            |       CASE WHEN c_custkey % 7 = 0 THEN NULL
            |            ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) % 500
            |       END
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    // PRE-horizon churn: k % 13 / k % 17 touch rows of the FIRST batch
    // too, so this refresh exercises the retraction recompute, not
    // just the sketch union
    e.sql("UPDATE ctab SET v = v + 7 WHERE k % 13 = 0")
    e.sql("DELETE FROM ctab WHERE k % 17 = 0")
    e.sql("REFRESH MATERIALIZED VIEW vcd INCREMENTALLY")
    e.sql("SELECT grp, dv, n FROM vcd ORDER BY grp")
  }

  /** Incremental JOIN-view maintenance (round 14; [REF-GAP] squared:
    * the reference refreshes views by full re-run only, and its view
    * SQL is single-table): a two-table equi-join view maintained by
    * the three-term counting delta (ΔA⋈B_new + A_new⋈ΔB − ΔA⋈ΔB) —
    * exact under arbitrary churn on BOTH sides, including pre-horizon
    * rows (no append gate: COUNT/SUM/AVG all retract). The workload
    * re-groups dimension rows, updates/deletes facts (orphaning some
    * against the inner join), deletes dimensions, and appends a second
    * batch to each side before one INCREMENTALLY refresh. The oracle
    * recomputes the join aggregate from scratch; cents are exact
    * BIGINTs and av is one IEEE division of exact integers. */
  val qMatViewJoin = Q(
    "q_matview_join",
    """WITH cd AS (
      |  SELECT c_custkey AS k,
      |         CASE WHEN c_custkey % 23 = 0 THEN 'gx'
      |              ELSE 'g' || CAST(c_nationkey % 5 AS VARCHAR) END AS grp
      |  FROM customer
      |  WHERE (c_custkey < 300 OR c_custkey BETWEEN 1000 AND 1099)
      |    AND c_custkey % 29 <> 0),
      |fx AS (
      |  SELECT o_orderkey AS i, o_custkey AS ck,
      |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |              ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |         END AS v0
      |  FROM orders
      |  WHERE ((o_orderkey < 2000 AND o_custkey < 300)
      |      OR (o_orderkey BETWEEN 2000 AND 3999
      |          AND (o_custkey < 300 OR o_custkey BETWEEN 1000 AND 1099)))
      |    AND o_orderkey % 17 <> 0),
      |f2 AS (SELECT i, ck,
      |       CASE WHEN i % 13 = 0 THEN v0 + 5 ELSE v0 END AS v FROM fx)
      |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(COUNT(v) AS BIGINT) AS nv,
      |       CAST(SUM(v) AS BIGINT) AS sv,
      |       CAST(SUM(v) AS DOUBLE) / COUNT(v) AS av
      |FROM cd JOIN f2 ON cd.k = f2.ck
      |GROUP BY grp ORDER BY grp""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.attachExternal("orders", s"$dir/orders.parquet")
    e.sql("CREATE TABLE cdim (k BIGINT PRIMARY KEY, grp STRING)")
    e.sql("CREATE TABLE ofact (i BIGINT PRIMARY KEY, ck BIGINT, v BIGINT)")
    e.sql("""INSERT INTO cdim
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 5 AS STRING)
            |FROM customer WHERE c_custkey < 300""".stripMargin)
    e.sql("""INSERT INTO ofact
            |SELECT o_orderkey, o_custkey,
            |       CASE WHEN o_orderkey % 11 = 0 THEN NULL
            |            ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            |       END
            |FROM orders
            |WHERE o_orderkey < 2000 AND o_custkey < 300""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW jvx AS
            |SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv,
            |       AVG(v) AS av
            |FROM cdim JOIN ofact ON cdim.k = ofact.ck
            |GROUP BY grp""".stripMargin)
    e.sql("""INSERT INTO cdim
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 5 AS STRING)
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("""INSERT INTO ofact
            |SELECT o_orderkey, o_custkey,
            |       CASE WHEN o_orderkey % 11 = 0 THEN NULL
            |            ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            |       END
            |FROM orders
            |WHERE o_orderkey BETWEEN 2000 AND 3999
            |  AND (o_custkey < 300 OR o_custkey BETWEEN 1000 AND 1099)""".stripMargin)
    e.sql("UPDATE cdim SET grp = 'gx' WHERE k % 23 = 0")
    e.sql("UPDATE ofact SET v = v + 5 WHERE i % 13 = 0")
    e.sql("DELETE FROM ofact WHERE i % 17 = 0")
    e.sql("DELETE FROM cdim WHERE k % 29 = 0")
    e.sql("REFRESH MATERIALIZED VIEW jvx INCREMENTALLY")
    e.sql("SELECT grp, n, nv, sv, av FROM jvx ORDER BY grp")
  }

  /** 3-way chain-join incremental maintenance (round 14): the
    * telescoping delta (3 terms since round 17) over a
    * region→nation→customer hierarchy, churned at ALL THREE levels in
    * one refresh window — a zone rename re-groups every transitive
    * customer, a nation re-parents AND re-segments, leaf rows
    * update/delete, and a middle-level delete orphans its subtree
    * (inner join drops it). The oracle recomputes the join aggregate
    * from scratch with CASE-encoded churn; cents are exact BIGINTs
    * and av is one IEEE division of exact integers. */
  val qMatViewJoin3 = Q(
    "q_matview_join3",
    """WITH rt AS (
      |  SELECT r_regionkey AS r,
      |         CASE WHEN r_regionkey = 2 THEN 'zz' ELSE r_name END AS zone
      |  FROM region),
      |nt AS (
      |  SELECT n_nationkey AS n,
      |         CASE WHEN n_nationkey % 5 = 0 THEN (n_regionkey + 1) % 5
      |              ELSE n_regionkey END AS rk,
      |         CASE WHEN n_nationkey % 5 = 0 THEN 'gx'
      |              ELSE 'g' || CAST(n_nationkey % 3 AS VARCHAR) END AS seg
      |  FROM nation WHERE n_nationkey <> 7),
      |ct AS (
      |  SELECT c_custkey AS c, c_nationkey AS nk,
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL
      |              ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
      |                   + CASE WHEN c_custkey % 11 = 0 THEN 3 ELSE 0 END
      |         END AS v
      |  FROM customer
      |  WHERE (c_custkey < 500 OR c_custkey BETWEEN 1000 AND 1099)
      |    AND c_custkey % 13 <> 0)
      |SELECT zone, seg, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(v) AS BIGINT) AS sv,
      |       CAST(SUM(v) AS DOUBLE) / COUNT(v) AS av
      |FROM rt JOIN nt ON rt.r = nt.rk JOIN ct ON nt.n = ct.nk
      |GROUP BY zone, seg ORDER BY zone, seg""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("region", s"$dir/region.parquet")
    e.attachExternal("nation", s"$dir/nation.parquet")
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE rtab (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE ntab (n BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE ctab (c BIGINT PRIMARY KEY, nk BIGINT, v BIGINT)")
    e.sql("INSERT INTO rtab SELECT r_regionkey, r_name FROM region")
    e.sql("""INSERT INTO ntab
            |SELECT n_nationkey, n_regionkey,
            |       'g' || CAST(n_nationkey % 3 AS STRING)
            |FROM nation""".stripMargin)
    e.sql("""INSERT INTO ctab
            |SELECT c_custkey, c_nationkey,
            |       CASE WHEN c_custkey % 7 = 0 THEN NULL
            |            ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END
            |FROM customer WHERE c_custkey < 500""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW j3v AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv, AVG(v) AS av
            |FROM rtab JOIN ntab ON rtab.r = ntab.rk
            |JOIN ctab ON ntab.n = ctab.nk
            |GROUP BY zone, seg""".stripMargin)
    e.sql("""INSERT INTO ctab
            |SELECT c_custkey, c_nationkey,
            |       CASE WHEN c_custkey % 7 = 0 THEN NULL
            |            ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("UPDATE rtab SET zone = 'zz' WHERE r = 2")
    e.sql("UPDATE ntab SET rk = (rk + 1) % 5, seg = 'gx' WHERE n % 5 = 0")
    e.sql("UPDATE ctab SET v = v + 3 WHERE c % 11 = 0")
    e.sql("DELETE FROM ctab WHERE c % 13 = 0")
    e.sql("DELETE FROM ntab WHERE n = 7")
    e.sql("REFRESH MATERIALIZED VIEW j3v INCREMENTALLY")
    e.sql("SELECT zone, seg, n, sv, av FROM j3v ORDER BY zone, seg")
  }

  /** 5-way chain-join incremental maintenance (round 17): the
    * telescoping delta over a region→nation→customer→orders→
    * lineitem hierarchy, churned at ALL FIVE levels in one refresh
    * window — a zone rename, a nation re-parent + re-segment,
    * customer deletes AND a late customer+orders backfill, an order
    * delete orphaning its lineitems, leaf value updates and deletes.
    * Every side touched is the WORST case for the term construction
    * (the telescoping delta plans one term per TOUCHED side — five
    * here, plus four old-horizon pruned reads; a one-side refresh
    * plans one term). The
    * oracle recomputes the 5-way join aggregate from scratch with
    * CASE-encoded churn; cents are exact BIGINTs. */
  val qMatViewJoin5 = Q(
    "q_matview_join5",
    """WITH rt AS (
      |  SELECT r_regionkey AS r,
      |         CASE WHEN r_regionkey = 2 THEN 'zz' ELSE r_name END AS zone
      |  FROM region),
      |nt AS (
      |  SELECT n_nationkey AS n,
      |         CASE WHEN n_nationkey % 5 = 0 THEN (n_regionkey + 1) % 5
      |              ELSE n_regionkey END AS rk,
      |         CASE WHEN n_nationkey % 5 = 0 THEN 'gx'
      |              ELSE 'g' || CAST(n_nationkey % 3 AS VARCHAR) END AS seg
      |  FROM nation),
      |ct AS (
      |  SELECT c_custkey AS c, c_nationkey AS nk
      |  FROM customer
      |  WHERE (c_custkey < 300 OR c_custkey BETWEEN 1000 AND 1099)
      |    AND c_custkey % 13 <> 0),
      |ot AS (
      |  SELECT o_orderkey AS o, o_custkey AS ck
      |  FROM orders
      |  WHERE o_orderkey < 2000
      |    AND (o_custkey < 300 OR o_custkey BETWEEN 1000 AND 1099)
      |    AND o_orderkey % 17 <> 0),
      |lt0 AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS l, l_orderkey AS ok,
      |         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS v0
      |  FROM lineitem WHERE l_orderkey < 2000
      |  GROUP BY l_orderkey, l_linenumber),
      |lt AS (
      |  SELECT l, ok,
      |         v0 + CASE WHEN l % 11 = 0 THEN 7 ELSE 0 END AS v
      |  FROM lt0 WHERE l % 19 <> 0)
      |SELECT zone, seg, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(v) AS BIGINT) AS sv
      |FROM rt JOIN nt ON rt.r = nt.rk JOIN ct ON nt.n = ct.nk
      |JOIN ot ON ct.c = ot.ck JOIN lt ON ot.o = lt.ok
      |GROUP BY zone, seg ORDER BY zone, seg""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("region", s"$dir/region.parquet")
    e.attachExternal("nation", s"$dir/nation.parquet")
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.attachExternal("orders", s"$dir/orders.parquet")
    e.attachExternal("lineitem", s"$dir/lineitem.parquet")
    e.sql("CREATE TABLE r5 (r BIGINT PRIMARY KEY, zone STRING)")
    e.sql("CREATE TABLE n5 (n BIGINT PRIMARY KEY, rk BIGINT, seg STRING)")
    e.sql("CREATE TABLE c5 (c BIGINT PRIMARY KEY, nk BIGINT)")
    e.sql("CREATE TABLE o5 (o BIGINT PRIMARY KEY, ck BIGINT)")
    e.sql("CREATE TABLE l5 (l BIGINT PRIMARY KEY, ok BIGINT, v BIGINT)")
    e.sql("INSERT INTO r5 SELECT r_regionkey, r_name FROM region")
    e.sql("""INSERT INTO n5
            |SELECT n_nationkey, n_regionkey,
            |       'g' || CAST(n_nationkey % 3 AS STRING)
            |FROM nation""".stripMargin)
    e.sql("""INSERT INTO c5
            |SELECT c_custkey, c_nationkey FROM customer
            |WHERE c_custkey < 300""".stripMargin)
    e.sql("""INSERT INTO o5
            |SELECT o_orderkey, o_custkey FROM orders
            |WHERE o_orderkey < 2000 AND o_custkey < 300""".stripMargin)
    // the synthetic lineitem carries duplicate (orderkey, linenumber)
    // pairs — aggregate to one leaf row per pair so the PK holds
    e.sql("""INSERT INTO l5
            |SELECT l_orderkey * 10 + l_linenumber, l_orderkey,
            |       SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
            |FROM lineitem WHERE l_orderkey < 2000
            |GROUP BY l_orderkey, l_linenumber""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW j5v AS
            |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
            |FROM r5 JOIN n5 ON r5.r = n5.rk
            |JOIN c5 ON n5.n = c5.nk
            |JOIN o5 ON c5.c = o5.ck
            |JOIN l5 ON o5.o = l5.ok
            |GROUP BY zone, seg""".stripMargin)
    // churn at every level: the worst-case all-five-touched refresh
    // (five telescoping terms)
    e.sql("""INSERT INTO c5
            |SELECT c_custkey, c_nationkey FROM customer
            |WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("""INSERT INTO o5
            |SELECT o_orderkey, o_custkey FROM orders
            |WHERE o_orderkey < 2000
            |  AND o_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("UPDATE r5 SET zone = 'zz' WHERE r = 2")
    e.sql("UPDATE n5 SET rk = (rk + 1) % 5, seg = 'gx' WHERE n % 5 = 0")
    e.sql("DELETE FROM c5 WHERE c % 13 = 0")
    e.sql("DELETE FROM o5 WHERE o % 17 = 0")
    e.sql("UPDATE l5 SET v = v + 7 WHERE l % 11 = 0")
    e.sql("DELETE FROM l5 WHERE l % 19 = 0")
    e.sql("REFRESH MATERIALIZED VIEW j5v INCREMENTALLY")
    e.sql("SELECT zone, seg, n, sv FROM j5v ORDER BY zone, seg")
  }

  /** Read-time HAVING on an incrementally maintained view (round 14;
    * aggregate-call predicates round 15):
    * storage keeps every group (a group outside the predicate today
    * can cross into it after any delta), the read applies the
    * predicate over the view's output aliases AND over aggregate
    * CALLS not in the select list — `MIN(v)` here rewrites to a
    * hidden aux-frame-backed accumulator maintained like a visible
    * one (until round 15 such views fell back to full rerun). The
    * workload moves
    * groups across the HAVING boundary in BOTH directions through one
    * incremental refresh; the oracle restates the HAVING over the
    * aggregate calls. */
  val qMatViewHaving = Q(
    "q_matview_having",
    """WITH src AS (
      |  SELECT c_custkey AS k,
      |         'g' || CAST(c_nationkey % 6 AS VARCHAR) AS grp,
      |         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS v
      |  FROM customer
      |  WHERE c_custkey < 300 OR c_custkey BETWEEN 1000 AND 1049),
      |post AS (SELECT k, grp, v FROM src WHERE k % 9 <> 0)
      |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(v) AS BIGINT) AS sv
      |FROM post GROUP BY grp
      |HAVING COUNT(*) >= 40 AND MIN(v) > -95000
      |ORDER BY grp""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE htab (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("""INSERT INTO htab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 6 AS STRING),
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey < 300""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW hmv AS
            |SELECT grp, COUNT(*) AS n, SUM(v) AS sv
            |FROM htab GROUP BY grp
            |HAVING n >= 40 AND MIN(v) > -95000""".stripMargin)
    e.sql("""INSERT INTO htab
            |SELECT c_custkey, 'g' || CAST(c_nationkey % 6 AS STRING),
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1049""".stripMargin)
    e.sql("DELETE FROM htab WHERE k % 9 = 0")
    e.sql("REFRESH MATERIALIZED VIEW hmv INCREMENTALLY")
    e.sql("SELECT grp, n, sv FROM hmv ORDER BY grp")
  }

  /** Computed group keys in a maintained view (round 14): the view
    * groups by row EXPRESSIONS (`nk % 4`, a string prefix) stated by
    * alias, evaluated identically by the full aggregation and every
    * signed-delta projection — updates that move rows ACROSS computed
    * groups must retract from one bucket and add to another. Oracle
    * recomputes from scratch with the same expressions. */
  val qMatViewExpr = Q(
    "q_matview_expr",
    """WITH src AS (
      |  SELECT c_custkey AS k, c_nationkey AS nk,
      |         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS v
      |  FROM customer
      |  WHERE c_custkey < 400 OR c_custkey BETWEEN 1000 AND 1099),
      |post AS (
      |  SELECT k, CASE WHEN k % 11 = 0 THEN nk + 1 ELSE nk END AS nk, v
      |  FROM src WHERE k % 17 <> 0)
      |SELECT nk % 4 AS b, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(v) AS BIGINT) AS sv
      |FROM post GROUP BY b ORDER BY b""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE etab (k BIGINT PRIMARY KEY, nk BIGINT, v BIGINT)")
    e.sql("""INSERT INTO etab
            |SELECT c_custkey, c_nationkey,
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey < 400""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW emv AS
            |SELECT nk % 4 AS b, COUNT(*) AS n, SUM(v) AS sv
            |FROM etab GROUP BY b""".stripMargin)
    e.sql("""INSERT INTO etab
            |SELECT c_custkey, c_nationkey,
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("UPDATE etab SET nk = nk + 1 WHERE k % 11 = 0") // crosses buckets
    e.sql("DELETE FROM etab WHERE k % 17 = 0")
    e.sql("REFRESH MATERIALIZED VIEW emv INCREMENTALLY")
    e.sql("SELECT b, n, sv FROM emv ORDER BY b")
  }

  /** Exact COUNT(DISTINCT) + SUM/AVG(DISTINCT) maintenance (round 14;
    * SUM/AVG(DISTINCT) round 15): the view carries a
    * hidden per-(group, value) aux frame — the two-level IVM
    * reduction — so distinct counts AND distinct sums RETRACT exactly
    * under deletes and
    * updates (the case a sketch cannot maintain): deleting
    * one of two rows sharing a value must drop neither the count nor
    * the sum contribution. The
    * fixture's cents%50 values guarantee heavy duplication, updates
    * shift values within groups, and deletes remove both last-copies
    * and redundant copies. AVG(DISTINCT) surfaces as ONE division of
    * the exact distinct sum over the exact distinct count (the
    * q_matview_avg discipline — deterministic IEEE over exact
    * integers). Oracle recomputes from scratch. */
  val qMatViewCd = Q(
    "q_matview_cd",
    """WITH src AS (
      |  SELECT c_custkey AS k, c_nationkey % 5 AS g,
      |         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) % 50 AS v
      |  FROM customer
      |  WHERE c_custkey < 400 OR c_custkey BETWEEN 1000 AND 1099),
      |post AS (
      |  SELECT k, g, CASE WHEN k % 11 = 0 THEN v + 3 ELSE v END AS v
      |  FROM src WHERE k % 7 <> 0)
      |SELECT g, CAST(COUNT(DISTINCT v) AS BIGINT) AS d,
      |       CAST(SUM(DISTINCT v) AS BIGINT) AS sd,
      |       CAST(SUM(DISTINCT v) AS DOUBLE) / COUNT(DISTINCT v) AS ad,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM post GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE cdt (k BIGINT PRIMARY KEY, g BIGINT, v BIGINT)")
    e.sql("""INSERT INTO cdt
            |SELECT c_custkey, c_nationkey % 5,
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) % 50
            |FROM customer WHERE c_custkey < 400""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW cdv AS
            |SELECT g, COUNT(DISTINCT v) AS d, SUM(DISTINCT v) AS sd,
            |       AVG(DISTINCT v) AS ad, COUNT(*) AS n
            |FROM cdt GROUP BY g""".stripMargin)
    e.sql("""INSERT INTO cdt
            |SELECT c_custkey, c_nationkey % 5,
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) % 50
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    e.sql("UPDATE cdt SET v = v + 3 WHERE k % 11 = 0")
    e.sql("DELETE FROM cdt WHERE k % 7 = 0")
    e.sql("REFRESH MATERIALIZED VIEW cdv INCREMENTALLY")
    e.sql("SELECT g, d, sd, ad, n FROM cdv ORDER BY g")
  }

  /** APPROX_PERCENTILE incremental maintenance (round 15): the view
    * carries a hidden mergeable DataSketches KLL sketch per group (the
    * native approx_percentile has no mergeable state) plus a non-null
    * support count; append-shaped refreshes union the touched rows'
    * new-state sketch, and this workload's PRE-horizon updates and
    * deletes dispatch to the touched-group recompute. Every fixture
    * group holds well under KllK values, so the sketch sits in its
    * exact regime: the quantile is the exact order statistic
    * min{x : inclusive rank >= p}, which the oracle derives
    * independently as the smallest value whose CUME_DIST reaches p —
    * two different algorithms, identical output, hash-exact (the
    * surfaced double IS a data value, cents are exact BIGINTs). */
  val qMatViewPctl = Q(
    "q_matview_pctl",
    """WITH src AS (
      |  SELECT c_custkey AS k, c_nationkey % 4 AS g,
      |         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS v
      |  FROM customer
      |  WHERE c_custkey < 400 OR c_custkey BETWEEN 1000 AND 1099),
      |post AS (
      |  SELECT k, g, CASE WHEN k % 11 = 0 THEN v + 50000 ELSE v END AS v
      |  FROM src WHERE k % 13 <> 0),
      |ranked AS (
      |  SELECT g, CAST(v AS DOUBLE) AS dv,
      |         CUME_DIST() OVER (PARTITION BY g ORDER BY v) AS cd
      |  FROM post)
      |SELECT g,
      |       MIN(dv) FILTER (WHERE cd >= 0.5) AS med,
      |       MIN(dv) FILTER (WHERE cd >= 0.9) AS p90,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM ranked GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE ptab (k BIGINT PRIMARY KEY, g BIGINT, v BIGINT)")
    e.sql("""INSERT INTO ptab
            |SELECT c_custkey, c_nationkey % 4,
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey < 400""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW pv AS
            |SELECT g, APPROX_PERCENTILE(v, 0.5) AS med,
            |       APPROX_PERCENTILE(v, 0.9) AS p90, COUNT(*) AS n
            |FROM ptab GROUP BY g""".stripMargin)
    e.sql("""INSERT INTO ptab
            |SELECT c_custkey, c_nationkey % 4,
            |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
            |FROM customer WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin)
    // PRE-horizon churn: retraction recompute, not just sketch union
    e.sql("UPDATE ptab SET v = v + 50000 WHERE k % 11 = 0")
    e.sql("DELETE FROM ptab WHERE k % 13 = 0")
    e.sql("REFRESH MATERIALIZED VIEW pv INCREMENTALLY")
    e.sql("SELECT g, med, p90, n FROM pv ORDER BY g")
  }

  /** SHOW MATERIALIZED VIEWS (round 14): the operator's staleness
    * dashboard — maintenance kind (single-table incremental / join
    * incremental / full-rerun), per-side refresh horizons, and
    * stale_events = events appended to any base since the horizon.
    * Round 17 adds quantile_exact: for APPROX_PERCENTILE views the
    * per-group KLL regime ('all' while every group's sketch is still
    * exact/uncompacted, 'partial' once any group folded > KllK
    * values), derived from the hidden per-group support counts with
    * one bounded aggregation over the stored view. Sequences are
    * deterministic from the fixture, so the oracle states the table
    * literally: a wrong kind classification, a missed horizon bump,
    * staleness counted on the wrong side, or a wrong regime verdict
    * diverges rows or hash. */
  val qShowMatviews = Q(
    "q_show_matviews",
    """SELECT * FROM (VALUES
      |  ('fv2', CAST(0 AS BIGINT), 'full_rerun', FALSE,
      |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
      |   FALSE, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
      |   CAST(NULL AS VARCHAR)),
      |  ('jv2', CAST(1 AS BIGINT), 'incremental_join', TRUE,
      |   'mv_item,mv_ord', 'mv_item@3,mv_ord@3', CAST(0 AS BIGINT), FALSE,
      |   CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
      |  ('qv2', CAST(0 AS BIGINT), 'incremental', FALSE,
      |   'mv_item', 'mv_item@3', CAST(0 AS BIGINT), FALSE,
      |   CAST(NULL AS BIGINT),
      |   'approx_percentile surfaces DOUBLE; exact quantile while a group holds <= 800 values, ~0.58% KLL rank error past it (incremental and full refresh may differ within that bound)',
      |   'all'),
      |  ('sv2', CAST(0 AS BIGINT), 'incremental', FALSE,
      |   'mv_ord', 'mv_ord@2', CAST(1 AS BIGINT), FALSE,
      |   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
      |) AS t(name, version, kind, autorefresh, base_tables, horizons,
      |       stale_events, muted, autorefresh_every, notes, quantile_exact)
      |ORDER BY name""".stripMargin) { (s, _) =>
    val e = QueryEngine.scratch(s)
    e.sql("CREATE TABLE mv_ord (k BIGINT PRIMARY KEY, status STRING)")
    e.sql("CREATE TABLE mv_item (i BIGINT PRIMARY KEY, ok BIGINT, qty BIGINT)")
    e.sql("INSERT INTO mv_ord VALUES (1,'a'), (2,'b')")
    e.sql("INSERT INTO mv_item VALUES (10,1,5)")
    e.sql("""CREATE MATERIALIZED VIEW jv2 AS
            |SELECT status, COUNT(*) AS n, SUM(qty) AS sq
            |FROM mv_ord JOIN mv_item ON mv_ord.k = mv_item.ok
            |GROUP BY status""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW sv2 AS
            |SELECT status, COUNT(*) AS n FROM mv_ord GROUP BY status""".stripMargin)
    e.sql("""CREATE MATERIALIZED VIEW fv2 AS
            |SELECT status FROM mv_ord WHERE k = 1 GROUP BY status, k""".stripMargin)
    e.sql("INSERT INTO mv_ord VALUES (3,'a')")
    e.sql("INSERT INTO mv_item VALUES (11,3,2), (12,1,4)")
    e.sql("REFRESH MATERIALIZED VIEW jv2 INCREMENTALLY")
    e.sql("ALTER MATERIALIZED VIEW jv2 SET AUTOREFRESH ON EVERY 3 EVENTS")
    // a percentile view: notes carries the static contract and
    // quantile_exact the LIVE regime (3 values max per group << 800)
    e.sql("""CREATE MATERIALIZED VIEW qv2 AS
            |SELECT ok, APPROX_PERCENTILE(qty, 0.5) AS med
            |FROM mv_item GROUP BY ok""".stripMargin)
    e.sql("SHOW MATERIALIZED VIEWS").orderBy("name")
  }

  /** Streaming-ingest append path (micro-batch → sequenced INSERT
    * events): the same ingestStream call foreachBatch makes, then a
    * temporal read over the streamed log. Oracle = the source rows. */
  val qStreamIngest = Q(
    "q_stream_ingest",
    """SELECT o_orderkey AS k, o_orderstatus AS status,
      |       CAST(o_totalprice AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey < 2000
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("orders_src", s"$dir/orders.parquet")
    e.sql("CREATE TABLE ord (k BIGINT PRIMARY KEY, status STRING, total DOUBLE)")
    // two micro-batches through the streaming append (PK/FK guards
    // skipped, sequences contiguous across batches)
    val src = e.spark.table("orders_src").where(col("o_orderkey") < 2000)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
    e.ingestStream("ord", src.where(col("k") % 2 === 0))
    e.ingestStream("ord", src.where(col("k") % 2 === 1))
    e.sql("SELECT k, status, CAST(total AS DOUBLE) AS total FROM ord ORDER BY k")
  }

  /** Trigger firing (triggers.rs:332-543): AFTER INSERT/UPDATE/DELETE
    * triggers audit each DML statement's affected batch through the
    * set-based new_rows/old_rows views; the UPDATE trigger carries a
    * WHEN filter. The audit ids are assigned in firing order, so the
    * oracle can state the whole table literally from the fixture —
    * any misfire (skipped event, wrong batch, WHEN ignored, double
    * fire) diverges rows or hash. */
  val qTriggerAudit = Q(
    "q_trigger_audit",
    """WITH base AS (
      |  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
      |  WHERE c_custkey < 500)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS aid, 'insert' AS op,
      |         (SELECT COUNT(*) FROM base) AS n
      |  UNION ALL
      |  SELECT 2, 'update_vip', (SELECT COUNT(*) FROM base WHERE bal > 5000)
      |  UNION ALL
      |  SELECT 3, 'delete', (SELECT COUNT(*) FROM base WHERE k % 10 = 0))
      |ORDER BY aid""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("CREATE TABLE audit (aid BIGINT PRIMARY KEY, op STRING, n BIGINT)")
    val nextAid = "(SELECT COALESCE(MAX(aid), 0) + 1 FROM audit)"
    e.sql(s"""CREATE TRIGGER trg_ins AFTER INSERT ON acct EXECUTE
             |INSERT INTO audit SELECT $nextAid, 'insert', COUNT(*) FROM new_rows""".stripMargin)
    e.sql(s"""CREATE TRIGGER trg_upd AFTER UPDATE ON acct WHEN (bal > 5000) EXECUTE
             |INSERT INTO audit SELECT $nextAid, 'update_vip', COUNT(*) FROM new_rows""".stripMargin)
    e.sql(s"""CREATE TRIGGER trg_del AFTER DELETE ON acct EXECUTE
             |INSERT INTO audit SELECT $nextAid, 'delete', COUNT(*) FROM old_rows""".stripMargin)
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    e.sql("SELECT aid, op, n FROM audit ORDER BY aid")
  }

  /** Stored procedures (procedures.rs:533-630): a two-statement body
    * bound twice with different named arguments; the oracle folds both
    * CALLs algebraically. Parameter binding renders evaluated values
    * as literals, so `1000 + 2000` arrives as 3000. */
  val qProcCall = Q(
    "q_proc_call",
    """SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |       CASE WHEN c_acctbal > 9000 THEN 'gold'
      |            WHEN c_acctbal > 3000 THEN 'vip'
      |            ELSE 'new' END AS status
      |FROM customer
      |WHERE c_custkey < 500 AND c_acctbal >= 9
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("""CREATE PROCEDURE promote(tier STRING, cutoff DOUBLE) AS
            |UPDATE acct SET status = $tier WHERE bal > $cutoff;
            |DELETE FROM acct WHERE bal < $cutoff / 1000""".stripMargin)
    e.sql("CALL promote('vip', 1000 + 2000)")
    e.sql("CALL promote('gold', 9000)")
    e.sql("SELECT k, CAST(bal AS DOUBLE) AS bal, status FROM acct ORDER BY k")
  }

  /** Multi-session MVCC transactions (mvcc.rs,
    * transaction_coordinator.rs): three sessions over one engine. Two
    * snapshot-isolated transactions with DISJOINT write sets — opened
    * concurrently, each blind to the other's buffer — both commit; a
    * third transaction overlapping an autocommit writer's keys loses
    * the first-committer-wins race and must abort without a trace. The
    * oracle folds exactly the surviving statements: if isolation leaked
    * (a lost update, the phantom landing, or the disjoint commit
    * wrongly rejected), the hash diverges. */
  val qMvccSessions = Q(
    "q_mvcc_sessions",
    """SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |       CASE WHEN c_acctbal > 9000 THEN 'gold'
      |            WHEN c_acctbal > 5000 THEN 'vip'
      |            WHEN c_acctbal < 1000 THEN 'low'
      |            ELSE 'new' END AS status
      |FROM customer WHERE c_custkey < 500
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    val s1 = e.newSession()
    val s2 = e.newSession()
    val s3 = e.newSession()
    s1.sql("BEGIN"); s2.sql("BEGIN")
    s1.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    s2.sql("UPDATE acct SET status = 'low' WHERE bal < 1000")
    s1.sql("COMMIT")
    s2.sql("COMMIT") // disjoint write sets — must succeed
    s3.sql("BEGIN")
    s3.sql("UPDATE acct SET status = 'phantom' WHERE bal > 5000")
    // an autocommit writer lands on a subset of s3's keys first
    e.sql("UPDATE acct SET status = 'gold' WHERE bal > 9000")
    val lost =
      try { s3.sql("COMMIT"); false }
      catch { case _: QueryEngine.SerializationFailureException => true }
    require(lost, "expected first-committer-wins serialization failure")
    e.sql("SELECT k, CAST(bal AS DOUBLE) AS bal, status FROM acct ORDER BY k")
  }

  /** Declared constraints end-to-end (constraints.rs:9-35, 330-520):
    * DEFAULT fills the omitted status column, then four violating
    * statements — NOT NULL, CHECK, UNIQUE (state clash), and a CHECK-
    * violating UPDATE — each must raise and leave state untouched,
    * while a passing UPDATE lands. The oracle folds only the CREATE +
    * INSERT + passing UPDATE; any guard that misfires (lets a
    * violation through, or a raise that leaves partial state) diverges
    * rows or hash. */
  val qConstraints = Q(
    "q_constraints",
    """SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |       CASE WHEN c_acctbal > 5000 THEN 'vip' ELSE 'new' END AS status,
      |       'u' || CAST(c_custkey AS VARCHAR) AS email
      |FROM customer
      |WHERE c_custkey < 300 AND c_acctbal >= 0
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("""CREATE TABLE acct (
            |  k BIGINT PRIMARY KEY,
            |  bal DOUBLE NOT NULL CHECK (bal >= 0),
            |  status STRING DEFAULT 'new',
            |  email STRING UNIQUE)""".stripMargin)
    // status omitted -> DEFAULT 'new' for every row
    e.sql("""INSERT INTO acct (k, bal, email)
            |SELECT c_custkey, c_acctbal, 'u' || CAST(c_custkey AS STRING)
            |FROM customer
            |WHERE c_custkey < 300 AND c_acctbal >= 0""".stripMargin)
    def mustRaise(stmt: String): Unit = {
      val raised =
        try { e.sql(stmt); false }
        catch { case _: IllegalArgumentException => true }
      require(raised, s"constraint violation not raised: $stmt")
    }
    mustRaise("INSERT INTO acct VALUES (900, NULL, 'x', 'e900')") // NOT NULL
    mustRaise("INSERT INTO acct VALUES (901, -5, 'x', 'e901')") // CHECK
    // UNIQUE: batch-internal duplicate (independent of fixture values)
    mustRaise("INSERT INTO acct (k, bal, email) VALUES (902, 10, 'z'), (903, 11, 'z')")
    mustRaise("UPDATE acct SET bal = -1") // CHECK on update, all rows
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000") // passes
    e.sql("""SELECT k, CAST(bal AS DOUBLE) AS bal, status, email
            |FROM acct ORDER BY k""".stripMargin)
  }

  /** Row-level security end-to-end (row_level_security.rs:56-340):
    * an owner-scoped PUBLIC policy (USING + WITH CHECK) plus a
    * role-scoped auditor policy. Alice's UPDATE and DELETE touch only
    * her visible rows, her forged INSERT (owner = 'bob') raises and
    * leaves nothing, and three differently-privileged reads land in
    * one result: what alice sees, what an auditor sees, and the true
    * final state (superuser). The oracle folds the same algebra —
    * a policy leak in any direction (filter too wide, too narrow,
    * write escaping WITH CHECK) diverges rows or hash. */
  val qRls = Q(
    "q_rls",
    """WITH base AS (
      |  SELECT c_custkey AS k,
      |         CAST(c_acctbal AS DOUBLE) +
      |           CASE WHEN c_custkey % 3 = 0 AND c_custkey % 2 = 1
      |                THEN 100 ELSE 0 END AS bal,
      |         CASE WHEN c_custkey % 3 = 0 THEN 'alice' ELSE 'bob' END AS owner
      |  FROM customer WHERE c_custkey < 500),
      |fin AS (
      |  SELECT * FROM base WHERE NOT (owner = 'alice' AND bal < 500))
      |SELECT 'alice_sees' AS phase, k, bal, owner FROM fin WHERE owner = 'alice'
      |UNION ALL
      |SELECT 'audit_sees' AS phase, k, bal, owner FROM fin WHERE bal > 9000
      |UNION ALL
      |SELECT 'state' AS phase, k, bal, owner FROM fin
      |ORDER BY phase, k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, owner STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal,
            |       CASE WHEN c_custkey % 3 = 0 THEN 'alice' ELSE 'bob' END
            |FROM customer WHERE c_custkey < 500""".stripMargin)
    e.sql("ALTER TABLE acct ENABLE ROW LEVEL SECURITY")
    e.sql("""CREATE POLICY own ON acct USING (owner = current_user)
            |WITH CHECK (owner = current_user)""".stripMargin)
    e.sql("CREATE POLICY big ON acct FOR SELECT TO auditor USING (bal > 9000)")
    val alice = e.newSession(); alice.setAuth("alice")
    alice.sql("UPDATE acct SET bal = bal + 100 WHERE k % 2 = 1")
    val blocked =
      try { alice.sql("INSERT INTO acct VALUES (9001, 1.0, 'bob')"); false }
      catch { case _: IllegalArgumentException => true }
    require(blocked, "RLS WITH CHECK did not veto the forged INSERT")
    alice.sql("DELETE FROM acct WHERE bal < 500") // only her visible rows
    val carol = e.newSession(); carol.setAuth("carol", roles = Set("auditor"))
    val aliceSees =
      alice.sql("SELECT 'alice_sees' AS phase, k, bal, owner FROM acct")
    val auditSees =
      carol.sql("SELECT 'audit_sees' AS phase, k, bal, owner FROM acct")
    val state = e.sql("SELECT 'state' AS phase, k, bal, owner FROM acct")
    aliceSees.unionByName(auditSees).unionByName(state).orderBy("phase", "k")
  }

  /** Backup/restore end-to-end (backup.rs:78-330): back the table up
    * mid-lifecycle, diverge it destructively (DELETE all + junk
    * insert), verify the backup, restore, then keep mutating — the
    * final state must equal "backup point + post-restore DML" exactly,
    * proving the restore reproduced state AND the restored engine's
    * sequence counters continue correctly (a duplicated or rewound
    * sequence would corrupt the post-restore DELETE's event fold). */
  val qBackupRestore = Q(
    "q_backup_restore",
    """SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |       CASE WHEN c_acctbal > 5000 THEN 'vip' ELSE 'new' END AS status
      |FROM customer
      |WHERE c_custkey < 500 AND c_custkey % 10 <> 0
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    val bdir = java.nio.file.Files.createTempDirectory("graft-bk-q-").toString
    e.sql(s"BACKUP DATABASE TO '$bdir/b1'")
    e.sql("DELETE FROM acct") // diverge destructively
    e.sql("INSERT INTO acct VALUES (999999, -1.0, 'junk')")
    e.sql(s"VERIFY BACKUP '$bdir/b1'")
    e.sql(s"RESTORE DATABASE FROM '$bdir/b1'")
    e.sql("DELETE FROM acct WHERE k % 10 = 0") // post-restore DML
    val res = e.sql("SELECT k, CAST(bal AS DOUBLE) AS bal, status FROM acct ORDER BY k")
    // the restore copied everything back into the engine's base dir —
    // the backup tree itself is no longer referenced by the lazy result
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(bdir)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => scala.util.Try(java.nio.file.Files.delete(f)))
    }
    res
  }

  /** Statement auditing (audit.rs:14-60, 247, 504): with SET AUDIT ON,
    * every statement records (id, session user, action, object,
    * affected rows, outcome) — including a failed INSERT whose pk
    * guard fired. The oracle states the whole expected feed, with the
    * DML row counts recomputed from the fixture — a wrong action
    * label, a missed or double record, a wrong affected-count, or a
    * failure recorded as success all diverge the hash. */
  val qAuditLog = Q(
    "q_audit_log",
    """WITH base AS (
      |  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
      |  WHERE c_custkey < 500)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS audit_id, 'root' AS "user",
      |         'CREATE TABLE' AS action, 'acct' AS object,
      |         CAST(0 AS BIGINT) AS n_affected, TRUE AS ok
      |  UNION ALL
      |  SELECT 2, 'root', 'INSERT', 'acct', (SELECT COUNT(*) FROM base), TRUE
      |  UNION ALL
      |  SELECT 3, 'root', 'UPDATE', 'acct',
      |         (SELECT COUNT(*) FROM base WHERE bal > 5000), TRUE
      |  UNION ALL
      |  SELECT 4, 'root', 'DELETE', 'acct',
      |         (SELECT COUNT(*) FROM base WHERE k % 10 = 0), TRUE
      |  UNION ALL
      |  SELECT 5, 'root', 'INSERT', 'acct', NULL, FALSE)
      |ORDER BY audit_id""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("SET AUDIT ON")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    val failed =
      try { e.sql("INSERT INTO acct VALUES (1, 1.0, 'dup')"); false }
      catch { case _: IllegalArgumentException => true }
    require(failed, "duplicate-pk INSERT unexpectedly succeeded")
    e.sql("SHOW AUDIT")
      .select(col("audit_id"), col("user"), col("action"), col("object"),
        col("n_affected"), col("ok"))
      .orderBy("audit_id")
  }

  /** Table privileges end-to-end (auth.rs:32-120, 647; role
    * administration rbac.rs:153-414): with the privilege gate on,
    * alice's pre-grant UPDATE and dave's ungranted read raise and
    * change nothing; a role-granted analyst reads the pre-update
    * state (pinned), alice reads post-update after her UPDATE grant
    * lands, and a revoke locks her out again. Role MEMBERSHIP is
    * exercised both ways: bob reads through a catalog-granted custom
    * role holding a table grant (CREATE ROLE + GRANT role TO user —
    * his session carries no roles at all), erin reads through the
    * predefined readonly BUNDLE with no table grant anywhere, and
    * REVOKE role FROM bob locks him out again. The final result
    * interleaves all perspectives — a check that fails open (denied
    * action leaking through) or fails closed (granted action wrongly
    * blocked) diverges rows or hash. */
  val qGrants = Q(
    "q_grants",
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
      |  FROM customer WHERE c_custkey < 500)
      |SELECT 'analyst_pre' AS phase, k, bal, 'new' AS status FROM base
      |UNION ALL
      |SELECT 'alice_post', k, bal,
      |       CASE WHEN bal > 5000 THEN 'vip' ELSE 'new' END FROM base
      |UNION ALL
      |SELECT 'bob_role', k, bal,
      |       CASE WHEN bal > 5000 THEN 'vip' ELSE 'new' END FROM base
      |UNION ALL
      |SELECT 'erin_bundle', k, bal,
      |       CASE WHEN bal > 5000 THEN 'vip' ELSE 'new' END FROM base
      |UNION ALL
      |SELECT 'state', k, bal,
      |       CASE WHEN bal > 5000 THEN 'vip' ELSE 'new' END FROM base
      |ORDER BY phase, k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("SET PRIVILEGES ON")
    e.sql("GRANT SELECT ON acct TO alice")
    e.sql("GRANT SELECT ON acct TO analyst")
    val alice = e.newSession(); alice.setAuth("alice")
    val carol = e.newSession(); carol.setAuth("carol", roles = Set("analyst"))
    // pinned: this read must keep showing the PRE-update state
    val analystPre = carol.sql(
      "SELECT 'analyst_pre' AS phase, k, bal, status FROM acct").localCheckpoint()
    def mustDeny(session: QueryEngine#Session, stmt: String): Unit = {
      val denied =
        try { session.sql(stmt); false }
        catch { case _: SecurityException => true }
      require(denied, s"privilege check failed open: $stmt")
    }
    mustDeny(alice, "UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("GRANT UPDATE ON acct TO alice")
    alice.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    val dave = e.newSession(); dave.setAuth("dave")
    mustDeny(dave, "SELECT * FROM acct")
    val alicePost = alice.sql(
      "SELECT 'alice_post' AS phase, k, bal, status FROM acct")
    e.sql("REVOKE SELECT ON acct FROM alice")
    mustDeny(alice, "SELECT * FROM acct")
    // role membership path: bob carries NOTHING at setAuth — his
    // access flows CREATE ROLE -> table grant to the role ->
    // GRANT role TO bob, all catalog-persisted
    e.sql("CREATE ROLE auditors")
    e.sql("GRANT SELECT ON acct TO auditors")
    val bob = e.newSession(); bob.setAuth("bob")
    mustDeny(bob, "SELECT * FROM acct") // not yet a member
    e.sql("GRANT auditors TO bob")
    val bobRole = bob.sql(
      "SELECT 'bob_role' AS phase, k, bal, status FROM acct").localCheckpoint()
    e.sql("REVOKE auditors FROM bob")
    mustDeny(bob, "SELECT * FROM acct")
    // bundle path: erin holds the predefined readonly bundle — SELECT
    // database-wide with no table grant anywhere — and nothing else
    e.sql("GRANT readonly TO erin")
    val erin = e.newSession(); erin.setAuth("erin")
    val erinBundle = erin.sql(
      "SELECT 'erin_bundle' AS phase, k, bal, status FROM acct")
    mustDeny(erin, "DELETE FROM acct WHERE k = 1")
    val state = e.sql("SELECT 'state' AS phase, k, bal, status FROM acct")
    analystPre.unionByName(alicePost).unionByName(bobRole)
      .unionByName(erinBundle).unionByName(state).orderBy("phase", "k")
  }

  /** Query result cache end-to-end (cache.rs:75-300): the same
    * aggregate runs twice (one miss, one hit — the hit serves the
    * pinned result), a single-row INSERT version-bumps the key so the
    * third run recomputes, and SHOW CACHE's (entries, hits, misses)
    * land in the result. The oracle spells both aggregate phases from
    * the fixture and the exact expected counters — a stale hit after
    * DML, a false miss, or wrong accounting all diverge. */
  val qResultCache = Q(
    "q_result_cache",
    """WITH base AS (
      |  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
      |  WHERE c_custkey < 500),
      |agg AS (
      |  SELECT CASE WHEN bal > 5000 THEN 'vip' ELSE 'new' END AS item,
      |         COUNT(*) AS n
      |  FROM base GROUP BY 1)
      |SELECT 'agg_pre' AS phase, item, n FROM agg
      |UNION ALL
      |SELECT 'agg_post', item,
      |       n + CASE WHEN item = 'new' THEN 1 ELSE 0 END FROM agg
      |UNION ALL
      |SELECT 'cache', 'entries', CAST(2 AS BIGINT)
      |UNION ALL SELECT 'cache', 'hits', 1
      |UNION ALL SELECT 'cache', 'misses', 2
      |ORDER BY phase, item""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal,
            |       CASE WHEN c_acctbal > 5000 THEN 'vip' ELSE 'new' END
            |FROM customer WHERE c_custkey < 500""".stripMargin)
    e.sql("SET CACHE ON")
    val aggSql = "SELECT status AS item, COUNT(*) AS n FROM acct GROUP BY status"
    e.sql(aggSql).count() // miss 1, enters the cache
    val pre = e.sql(aggSql) // hit 1 — the pinned frame
    e.sql("INSERT INTO acct VALUES (9001, 1.0, 'new')")
    val post = e.sql(aggSql) // miss 2 — version bump forced recompute
    val stats = e.sql("SHOW CACHE").selectExpr(
      "'cache' AS phase",
      "stack(3, 'entries', entries, 'hits', hits, 'misses', misses) AS (item, n)")
    pre.select(lit("agg_pre").as("phase"), col("item"), col("n"))
      .unionByName(post.select(lit("agg_post").as("phase"), col("item"), col("n")))
      .unionByName(stats.select(col("phase"), col("item"), col("n")))
      .orderBy("phase", "item")
  }

  /** Versioned migrations end-to-end (migration.rs:99-150, 489, 465):
    * three migrations registered out of order apply version-ordered
    * (the 0.9.0 pre-table must exist before 1.0.0 fills the main
    * table), then the newest rolls back through its DOWN script. The
    * final state + status feed is the oracle's algebra: a wrong apply
    * order, a skipped/double application, or a rollback that missed
    * its DOWN diverges rows or hash. */
  val qMigrations = Q(
    "q_migrations",
    """SELECT 'state' AS phase, 'new' AS item, COUNT(*) AS n
      |FROM customer WHERE c_custkey < 500
      |UNION ALL SELECT 'mig', '0.9.0:true', 1
      |UNION ALL SELECT 'mig', '1.0.0:true', 1
      |UNION ALL SELECT 'mig', '1.1.0:false', 1
      |UNION ALL SELECT 'pre', 'rows', 1
      |ORDER BY phase, item""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("""CREATE MIGRATION '1.0.0' UP
            |CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING);
            |INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("""CREATE MIGRATION '1.1.0' UP
            |UPDATE acct SET status = 'vip' WHERE bal > 5000
            |DOWN UPDATE acct SET status = 'new'""".stripMargin)
    // registered last, applies first (version order)
    e.sql("""CREATE MIGRATION '0.9.0' UP
            |CREATE TABLE pre (k BIGINT PRIMARY KEY);
            |INSERT INTO pre VALUES (1)""".stripMargin)
    e.sql("MIGRATE")
    e.sql("ROLLBACK MIGRATION") // 1.1.0: statuses back to 'new'
    val state = e.sql(
      "SELECT 'state' AS phase, status AS item, COUNT(*) AS n FROM acct GROUP BY status")
    val migs = e.sql("SHOW MIGRATIONS").selectExpr(
      "'mig' AS phase",
      "version || ':' || CAST(applied AS STRING) AS item",
      "CAST(1 AS BIGINT) AS n")
    val pre = e.sql("SELECT 'pre' AS phase, 'rows' AS item, COUNT(*) AS n FROM pre")
    state.unionByName(migs).unionByName(pre).orderBy("phase", "item")
  }

  /** Engine metrics (monitoring.rs:81-246): a fixed statement script —
    * one failed INSERT, one committed and one rolled-back transaction,
    * one snapshot — then SHOW METRICS. Every exposed counter/gauge is
    * deterministic by design (no wall-clock histograms), so the oracle
    * states the whole feed, with events_total recomputed from the
    * fixture (insert events + committed patch events; the rolled-back
    * DELETE must contribute nothing). */
  val qMetrics = Q(
    "q_metrics",
    """WITH base AS (
      |  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
      |  WHERE c_custkey < 500)
      |SELECT * FROM (
      |  SELECT 'autorefresh_failed' AS metric, CAST(0 AS BIGINT) AS value
      |  UNION ALL SELECT 'autorefresh_runs', 0
      |  UNION ALL SELECT 'cache_hits', 0
      |  UNION ALL SELECT 'cache_misses', 0
      |  UNION ALL SELECT 'events_total',
      |    (SELECT COUNT(*) FROM base) +
      |    (SELECT COUNT(*) FROM base WHERE bal > 5000)
      |  UNION ALL SELECT 'snapshots_taken', 1
      |  UNION ALL SELECT 'statements_failed', 1
      |  UNION ALL SELECT 'statements_timed_out', 0
      |  UNION ALL SELECT 'statements_total', 11
      |  UNION ALL SELECT 'tables', 1
      |  UNION ALL SELECT 'txn_commits', 1
      |  UNION ALL SELECT 'txn_rollbacks', 1
      |  UNION ALL SELECT 'views', 0)
      |ORDER BY metric""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    val failed =
      try { e.sql("INSERT INTO acct VALUES (1, 1.0, 'dup')"); false }
      catch { case _: IllegalArgumentException => true }
    require(failed, "duplicate-pk INSERT unexpectedly succeeded")
    e.sql("BEGIN")
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("COMMIT")
    e.sql("BEGIN")
    e.sql("DELETE FROM acct")
    e.sql("ROLLBACK") // contributes no events
    e.sql("SNAPSHOT acct")
    e.sql("SHOW METRICS").orderBy("metric") // the 11th statement
  }

  /** Threshold alerting over the deterministic metrics feed
    * (alerting.rs:134-505: AlertRule / AlertManager / the
    * PENDING→FIRING→RESOLVED state machine). The scenario exercises
    * all three states AND a full transition: `tables > 1` fires while
    * a second table exists and resolves after it drops; the
    * statements_total rule fires on plain statement count; the
    * rollback rule never fires. Every value is statement-countable, so
    * the oracle states the whole feed literally. */
  val qAlerts = Q(
    "q_alerts",
    """SELECT * FROM (
      |  SELECT 'busy' AS alert, 'WARNING' AS severity, 'FIRING' AS state,
      |         'statements_total' AS metric, CAST(9 AS BIGINT) AS value,
      |         CAST(3 AS DOUBLE) AS threshold
      |  UNION ALL SELECT 'quiet', 'INFO', 'PENDING', 'txn_rollbacks', 0, 1
      |  UNION ALL SELECT 'two_tables', 'CRITICAL', 'RESOLVED', 'tables', 1, 1)
      |ORDER BY alert""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.sql("CREATE TABLE a1 (k BIGINT PRIMARY KEY)") // 1
    e.sql("CREATE ALERT busy ON statements_total > 3") // 2
    e.sql("CREATE ALERT quiet ON txn_rollbacks >= 1 SEVERITY INFO") // 3
    e.sql("CREATE ALERT two_tables ON tables > 1 SEVERITY CRITICAL") // 4
    e.sql("CREATE TABLE a2 (k BIGINT PRIMARY KEY)") // 5
    e.sql("SHOW ALERTS") // 6: two_tables + busy fire here
    e.sql("DROP TABLE a2") // 7
    e.sql("INSERT INTO a1 VALUES (1)") // 8
    e.sql("SHOW ALERTS") // 9: value = statements_total = 9
  }

  /** VACUUM RETAIN end-to-end (engine.rs:739-845's reclamation): after
    * the full DML lifecycle the log is vacuumed at the post-INSERT
    * boundary — the insert batch's file is physically deleted, served
    * thereafter by the auto-taken snapshot. Both the current state and
    * the at-floor time travel must stay byte-identical to the
    * pre-vacuum algebra (the oracle recomputes both), and a read below
    * the floor must raise — a vacuum that deleted too much or a floor
    * that leaks partial state diverges rows or hash. */
  val qVacuumRetain = Q(
    "q_vacuum_retain",
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
      |  FROM customer WHERE c_custkey < 500)
      |SELECT 'at_floor' AS phase, k, bal, 'new' AS status FROM base
      |UNION ALL
      |SELECT 'current', k, bal,
      |       CASE WHEN bal > 5000 THEN 'vip' ELSE 'new' END
      |FROM base WHERE k % 10 <> 0
      |ORDER BY phase, k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin) // seq 1..500
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    e.sql("VACUUM acct RETAIN @SEQ:500") // auto-snapshots at 500
    val blocked =
      try { e.sql("SELECT * FROM acct FOR SYSTEM_TIME AS OF @SEQ:499").count(); false }
      catch { case _: IllegalStateException => true }
    require(blocked, "read below the retention floor did not raise")
    val atFloor = e.sql(
      """SELECT 'at_floor' AS phase, k, CAST(bal AS DOUBLE) AS bal, status
        |FROM acct FOR SYSTEM_TIME AS OF @SEQ:500""".stripMargin)
    val current = e.sql(
      "SELECT 'current' AS phase, k, CAST(bal AS DOUBLE) AS bal, status FROM acct")
    atFloor.unionByName(current).orderBy("phase", "k")
  }

  /** DIFF TABLE (the state-level complement of the drift-history event
    * feed, query/executor.rs:327-354): net changes between the
    * post-INSERT boundary and the final state — updates surface as
    * `modified` with the NEW row, deletes as `removed` with their
    * FROM-state image (the row as the older state knew it — the
    * principled diff semantics: what vanished is the A-side row), a
    * late insert as `added`, and a row that churned back to
    * its original value (set to 'x' then back to 'new') must NOT
    * appear at all. The oracle folds the same algebra. */
  val qDiffTable = Q(
    "q_diff_table",
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
      |  FROM customer WHERE c_custkey < 500)
      |SELECT 'added' AS change, CAST(9001 AS BIGINT) AS k,
      |       CAST(1.5 AS DOUBLE) AS bal, 'late' AS status
      |UNION ALL
      |SELECT 'modified', k, bal, 'vip' FROM base
      |WHERE bal > 5000 AND k % 10 <> 0 AND k <> 7
      |UNION ALL
      |SELECT 'removed', k, bal, 'new' FROM base WHERE k % 10 = 0
      |ORDER BY change, k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin) // seq 1..500 = the baseline
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000 AND k <> 7")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    e.sql("INSERT INTO acct VALUES (9001, 1.5, 'late')")
    // churn-and-return: k=7 must not appear in the diff even though it
    // has PATCH events between the two states
    e.sql("UPDATE acct SET status = 'x' WHERE k = 7")
    e.sql("UPDATE acct SET status = 'new' WHERE k = 7")
    e.sql("""DIFF TABLE acct BETWEEN @SEQ:500 AND
            |@SEQ:999999999""".stripMargin.replace("\n", " "))
      .selectExpr("change", "k", "CAST(bal AS DOUBLE) AS bal", "status")
      .orderBy("change", "k")
  }

  /** OPTIMIZE ... ZORDER BY end-to-end ([REF-GAP]: clustered checkpoint
    * rewrite — the reference's compaction has no layout control). After
    * the DML lifecycle the table is re-clustered on (nat, bal); the
    * rewrite must be invisible to results — current state AND time
    * travel at the pre-update boundary replay exactly as before, now
    * served from the versioned clustered checkpoint. A rewrite that
    * drops/duplicates rows or breaks the snapshot resolution diverges
    * rows or hash. */
  val qZOrder = Q(
    "q_zorder",
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal,
      |         c_nationkey AS nat
      |  FROM customer WHERE c_custkey BETWEEN 1 AND 600)
      |SELECT 'asof' AS phase, k, bal, nat FROM base
      |UNION ALL
      |SELECT 'current', k, CASE WHEN k % 10 = 0 THEN 0.0 ELSE bal END, nat
      |FROM base
      |ORDER BY phase, k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, nat BIGINT)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, c_nationkey FROM customer
            |WHERE c_custkey BETWEEN 1 AND 600""".stripMargin) // seq 1..600
    e.sql("UPDATE acct SET bal = 0 WHERE k % 10 = 0")
    e.sql("OPTIMIZE acct ZORDER BY (nat, bal)")
    val asof = e.sql(
      """SELECT 'asof' AS phase, k, CAST(bal AS DOUBLE) AS bal, nat
        |FROM acct FOR SYSTEM_TIME AS OF @SEQ:600""".stripMargin)
    val current = e.sql(
      "SELECT 'current' AS phase, k, CAST(bal AS DOUBLE) AS bal, nat FROM acct")
    asof.unionByName(current).orderBy("phase", "k")
  }

  /** Plain relational passthrough through engine.sql over external
    * tables — identical ANSI text runs in the oracle. */
  private val passthroughSql =
    """SELECT n_name, COUNT(*) AS n_cust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  val qSqlPassthrough = Q("q_sql_passthrough", passthroughSql) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.attachExternal("nation", s"$dir/nation.parquet")
    e.sql(passthroughSql)
  }

  /** CREATE VIEW + query-through-view (views.rs:1-30; expansion
    * sql_bridge.rs:1203-1259). */
  val qSqlView = Q(
    "q_sql_view",
    """SELECT c_mktsegment, COUNT(*) AS n
      |FROM (SELECT * FROM customer WHERE c_acctbal > 7000) rich
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE VIEW rich AS SELECT * FROM customer WHERE c_acctbal > 7000")
    e.sql(
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM rich GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** Sequence lifecycle end-to-end (sequences.rs:8-213): ascending
    * draws with MAXVALUE + CYCLE wrap, RESTART WITH re-aim, currval,
    * and a descending sequence — every drawn value lands in a table
    * row, so the oracle spells the exact expected draw trace; any
    * misdraw (wrong start, wrong wrap, restart off-by-one) diverges
    * the hash. */
  val qSequences = Q(
    "q_sequences",
    """SELECT CAST(i AS BIGINT) AS i, CAST(v AS BIGINT) AS v
      |FROM (VALUES (1,10),(2,15),(3,20),(4,25),(5,30),(6,10),
      |             (7,21),(8,21),(9,0),(10,-3)) AS t(i, v)
      |ORDER BY i""".stripMargin) { (s, _) =>
    val e = QueryEngine.scratch(s)
    e.sql("CREATE TABLE seq_log (i BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("CREATE SEQUENCE s START 10 INCREMENT 5 MINVALUE 10 MAXVALUE 30 CYCLE")
    e.sql("""INSERT INTO seq_log VALUES (1, nextval('s')), (2, nextval('s')),
            |(3, nextval('s')), (4, nextval('s'))""".stripMargin)
    e.sql("INSERT INTO seq_log VALUES (5, nextval('s')), (6, nextval('s'))")
    e.sql("ALTER SEQUENCE s RESTART WITH 21")
    e.sql("INSERT INTO seq_log VALUES (7, nextval('s')), (8, currval('s'))")
    e.sql("CREATE SEQUENCE d INCREMENT BY -3 START WITH 0")
    e.sql("INSERT INTO seq_log VALUES (9, nextval('d')), (10, nextval('d'))")
    e.sql("SELECT i, v FROM seq_log ORDER BY i")
  }

  /** AUTO_INCREMENT block reservation (sequences.rs:80-142): two
    * INSERT ... SELECT batches fill the omitted id column. Assignment
    * order within a batch is unspecified (distributed), so the oracle
    * checks the order-free invariants that uniquely pin a gapless
    * block: exactly N distinct ids, min 1, max N, and the closed-form
    * sum N(N+1)/2 — any duplicate, gap, or wrong block start breaks
    * at least one. */
  val qAutoIncrement = Q(
    "q_auto_increment",
    """SELECT COUNT(*) AS n, COUNT(*) AS n_ids,
      |       CAST(1 AS BIGINT) AS min_id,
      |       CAST(COUNT(*) AS BIGINT) AS max_id,
      |       CAST(COUNT(*) * (COUNT(*) + 1) / 2 AS BIGINT) AS id_sum,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum
      |FROM customer WHERE c_custkey <= 600""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE docs (id BIGINT AUTO_INCREMENT PRIMARY KEY, ck BIGINT, bal DOUBLE)")
    e.sql("""INSERT INTO docs (ck, bal)
            |SELECT c_custkey, c_acctbal FROM customer
            |WHERE c_custkey <= 400""".stripMargin)
    e.sql("""INSERT INTO docs (ck, bal)
            |SELECT c_custkey, c_acctbal FROM customer
            |WHERE c_custkey > 400 AND c_custkey <= 600""".stripMargin)
    e.sql("""SELECT COUNT(*) AS n, COUNT(DISTINCT id) AS n_ids,
            |       CAST(MIN(id) AS BIGINT) AS min_id,
            |       CAST(MAX(id) AS BIGINT) AS max_id,
            |       CAST(SUM(id) AS BIGINT) AS id_sum,
            |       CAST(SUM(CAST(bal AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum
            |FROM docs""".stripMargin)
  }

  /** Incremental streaming dedup (StreamingDedup.ingestDeduped):
    * three ordered micro-batches of the documents fixture, each
    * admitting only fingerprints absent from the persistent registry —
    * the final state must equal the BATCH dedup of the whole corpus
    * (the q_dedup_exact survivors), so the incremental path can
    * neither lose nor double-admit a document. Batches arrive in
    * ascending doc_id ranges, making earliest-batch-wins coincide with
    * the oracle's global MIN(doc_id). */
  val qStreamDedup = Q(
    "q_stream_dedup",
    """WITH k AS (
      |  SELECT doc_id, text,
      |         md5(array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')) AS fp
      |  FROM documents),
      |surv AS (SELECT MIN(doc_id) AS doc_id FROM k GROUP BY fp)
      |SELECT k.doc_id, length(k.text) AS n_chars
      |FROM k JOIN surv ON k.doc_id = surv.doc_id
      |ORDER BY k.doc_id""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("docs_src", s"$dir/documents.parquet")
    e.sql("CREATE TABLE sdocs (doc_id BIGINT PRIMARY KEY, text STRING)")
    e.sql("CREATE TABLE sseen (fp STRING PRIMARY KEY, doc_id BIGINT)")
    val src = e.spark.table("docs_src").select(col("doc_id"), col("text"))
    val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 10)))
    for ((lo, hi) <- Seq((0L, 150L), (150L, 300L), (300L, Long.MaxValue)))
      StreamingDedup.ingestDeduped(e, "sdocs", "sseen",
        src.where(col("doc_id") >= lo && col("doc_id") < hi), fp, None, -1L)
    e.sql("SELECT doc_id, length(text) AS n_chars FROM sdocs ORDER BY doc_id")
  }

  /** Incremental streaming NEAR-dup dedup (StreamingDedup.startNearDup
    * / ingestNearDedup): three ordered micro-batches, each
    * dropping documents whose 3-shingle Jaccard against any SEEN
    * document reaches 0.5 — within the batch (earlier doc_id wins) or
    * across batches via the persistent inverted-index registry. Seen
    * semantics (compared against all prior docs, admitted or not)
    * makes the final state batch-order-free and exactly SQL-
    * expressible: a doc survives iff NO smaller-id doc in the corpus
    * clears the threshold — which the oracle computes with the same
    * distinct-shingle arrays and integer-exact Jaccard. */
  val qStreamNearDedup = Q(
    "q_stream_neardup",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], '_')))) AS tok
      |  FROM d WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS e, b.doc_id AS dd, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dropped AS (
      |  SELECT DISTINCT dd FROM inter
      |  JOIN sz se ON e = se.doc_id JOIN sz sd ON dd = sd.doc_id
      |  WHERE CAST(i AS DOUBLE) / (se.n + sd.n - i) >= 0.5)
      |SELECT d.doc_id, length(d.text) AS n_chars
      |FROM d LEFT JOIN dropped ON d.doc_id = dropped.dd
      |WHERE dropped.dd IS NULL
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("docs_src", s"$dir/documents.parquet")
    e.sql("CREATE TABLE ndocs (doc_id BIGINT PRIMARY KEY, text STRING)")
    e.sql("""CREATE TABLE nidx (pk STRING PRIMARY KEY, tok STRING,
            |doc_id BIGINT, n BIGINT)""".stripMargin)
    e.sql("CREATE INDEX nidx_tok ON nidx (tok)")
    val src = e.spark.table("docs_src").select(col("doc_id"), col("text"))
    for ((lo, hi) <- Seq((0L, 150L), (150L, 300L), (300L, Long.MaxValue)))
      StreamingDedup.ingestNearDedup(e, "ndocs", "nidx",
        src.where(col("doc_id") >= lo && col("doc_id") < hi),
        col("text"), shingleN = 3, minJaccard = 0.5,
        maxDf = Long.MaxValue, None, -1L)
    e.sql("SELECT doc_id, length(text) AS n_chars FROM ndocs ORDER BY doc_id")
  }

  /** ANALYZE + SHOW STATS (stats.rs:1-60): per-column cardinality,
    * null counts, ndv, min/max. The oracle recomputes each column's
    * stats exactly in DuckDB; at nation's size the engine's HLL ndv is
    * exact, so the whole row set hash-matches. */
  val qShowStats = Q(
    "q_show_stats",
    """SELECT col_name, n_rows, null_count, ndv, "min", "max" FROM (
      |  SELECT 'n_name' AS col_name, COUNT(*) AS n_rows,
      |         COUNT(*) - COUNT(n_name) AS null_count,
      |         COUNT(DISTINCT n_name) AS ndv,
      |         CAST(MIN(n_name) AS VARCHAR) AS "min",
      |         CAST(MAX(n_name) AS VARCHAR) AS "max" FROM nation
      |  UNION ALL
      |  SELECT 'n_nationkey', COUNT(*), COUNT(*) - COUNT(n_nationkey),
      |         COUNT(DISTINCT n_nationkey),
      |         CAST(MIN(n_nationkey) AS VARCHAR), CAST(MAX(n_nationkey) AS VARCHAR)
      |  FROM nation
      |  UNION ALL
      |  SELECT 'n_regionkey', COUNT(*), COUNT(*) - COUNT(n_regionkey),
      |         COUNT(DISTINCT n_regionkey),
      |         CAST(MIN(n_regionkey) AS VARCHAR), CAST(MAX(n_regionkey) AS VARCHAR)
      |  FROM nation)
      |ORDER BY col_name""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("nation_src", s"$dir/nation.parquet")
    e.sql("""CREATE TABLE nat (n_nationkey BIGINT PRIMARY KEY,
            |  n_name STRING, n_regionkey BIGINT)""".stripMargin)
    e.sql("""INSERT INTO nat
            |SELECT n_nationkey, n_name, n_regionkey FROM nation_src""".stripMargin)
    e.sql("ANALYZE nat")
    e.sql("SHOW STATS FOR nat")
  }

  /** SHOW HISTOGRAM (stats.rs histogram shape): 10 equi-width buckets
    * over a numeric column. The oracle mirrors the bucket arithmetic
    * operation-for-operation — (x−lo)/(hi−lo)·10 floored, clamped to 9,
    * bounds lo + b·width with width = (hi−lo)/10 — so every double is
    * bit-identical across engines. */
  val qShowHistogram = Q(
    "q_show_histogram",
    """WITH b AS (
      |  SELECT CAST(MIN(o_orderkey) AS DOUBLE) AS lo,
      |         CAST(MAX(o_orderkey) AS DOUBLE) AS hi
      |  FROM orders),
      |d AS (
      |  SELECT LEAST(9, CAST(FLOOR((CAST(o_orderkey AS DOUBLE) - b.lo)
      |                             / (b.hi - b.lo) * 10) AS BIGINT)) AS bucket
      |  FROM orders, b),
      |g AS (SELECT bucket, COUNT(*) AS n FROM d GROUP BY bucket)
      |SELECT CAST(r.range AS BIGINT) AS bucket,
      |       b.lo + r.range * ((b.hi - b.lo) / 10) AS lo,
      |       CASE WHEN r.range = 9 THEN b.hi
      |            ELSE b.lo + (r.range + 1) * ((b.hi - b.lo) / 10) END AS hi,
      |       COALESCE(g.n, 0) AS n
      |FROM range(10) r CROSS JOIN b LEFT JOIN g ON g.bucket = r.range
      |ORDER BY bucket""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("orders_src", s"$dir/orders.parquet")
    e.sql("CREATE TABLE ordt (o_orderkey BIGINT PRIMARY KEY)")
    e.sql("INSERT INTO ordt SELECT o_orderkey FROM orders_src")
    e.sql("SHOW HISTOGRAM ordt o_orderkey")
  }

  /** Security monitor threat feed (security_monitor.rs:436-520): a
    * statement carrying an injection signature is flagged CRITICAL in
    * the threat feed with the matched signature. The scenario's other
    * statements (DML, a failed insert) must NOT appear — the oracle is
    * the exact one-row feed. */
  val qSecurityThreats = Q(
    "q_security_threats",
    """SELECT CAST(1 AS BIGINT) AS threat_id,
      |       'SQLInjection' AS threat_type, 'CRITICAL' AS severity,
      |       CAST(NULL AS VARCHAR) AS source, 'root' AS "user",
      |       'or 1=1' AS signal""".stripMargin) { (s, dir) =>
    val e = securityScenario(s, dir)
    e.sql("SHOW SECURITY THREATS")
  }

  /** Session tracker + risk score (security_monitor.rs SessionTracker
    * :915-995): statement/failure/row/table counts accumulate per
    * session and the risk formula is plain IEEE arithmetic — the oracle
    * recomputes every count from the fixture and the risk expression
    * operation-for-operation, so the whole row hash-matches. */
  val qSecuritySessions = Q(
    "q_security_sessions",
    """WITH base AS (
      |  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
      |  WHERE c_custkey < 500)
      |SELECT CAST(1 AS BIGINT) AS session_id, 'root' AS "user",
      |       CAST(6 AS BIGINT) AS statements, CAST(1 AS BIGINT) AS failed,
      |       (SELECT COUNT(*) FROM base)
      |         + (SELECT COUNT(*) FROM base WHERE bal > 5000)
      |         + (SELECT COUNT(*) FROM base WHERE k % 10 = 0) AS rows_accessed,
      |       CAST(1 AS BIGINT) AS tables_accessed,
      |       CAST(1 AS DOUBLE) / 6 * 0.3 AS risk_score""".stripMargin) { (s, dir) =>
    val e = securityScenario(s, dir)
    e.sql("SHOW SESSIONS")
  }

  /** Shared 6-statement scenario for the security-monitor oracles:
    * DDL + three DML (known affected counts), one injection-flagged
    * SELECT, one failed INSERT — the monitor sees exactly these six
    * top-level statements when the SHOW runs as the seventh. */
  private def securityScenario(s: SparkSession, dir: String): QueryEngine = {
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE, status STRING)")
    e.sql("""INSERT INTO acct
            |SELECT c_custkey, c_acctbal, 'new' FROM customer
            |WHERE c_custkey < 500""".stripMargin)
    e.sql("UPDATE acct SET status = 'vip' WHERE bal > 5000")
    e.sql("DELETE FROM acct WHERE k % 10 = 0")
    e.sql("SELECT COUNT(*) AS n FROM acct WHERE k = 1 OR 1=1").count()
    val failed =
      try { e.sql("INSERT INTO acct VALUES (1, 1.0, 'dup')"); false }
      catch { case _: IllegalArgumentException => true }
    require(failed, "duplicate-pk INSERT unexpectedly succeeded")
    e
  }

  /** Every engine scenario runs inside a scratchScope: its scratch
    * engines are closed and their temp dirs deleted as soon as the
    * (collected) result is in hand — 28 leaked engines' pinned blocks
    * and temp parquet otherwise degrade the rest of a bench suite. */
  /** Corruption repair end-to-end (error_recovery.rs:395-505 made
    * deterministic): three INSERT batches land, every log file holding
    * batch 2's sequence range is truncated mid-byte, and REPAIR TABLE
    * quarantines the corrupt files, raises the retention floor to the
    * hole's top, and rebuilds the checkpoint. The result is the
    * surviving state (batches 1 and 3) plus a meta row pinning the
    * floor the repair computed — the oracle re-derives both from the
    * fixture arithmetic, so surviving too few rows (over-repair), too
    * many (serving corrupt data), or a wrong floor all diverge. */
  val qRepair = Q(
    "q_repair",
    """SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bal
      |FROM customer
      |WHERE c_custkey < 100 OR (c_custkey >= 200 AND c_custkey < 300)
      |UNION ALL
      |SELECT -1, CAST(
      |  (SELECT COUNT(*) FROM customer WHERE c_custkey < 200) AS DOUBLE)
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val e = QueryEngine.scratch(s)
    e.attachExternal("customer", s"$dir/customer.parquet")
    e.sql("CREATE TABLE doc (k BIGINT PRIMARY KEY, bal DOUBLE)")
    for ((lo, hi) <- Seq((0L, 100L), (100L, 200L), (200L, 300L)))
      e.sql(s"""INSERT INTO doc
               |SELECT c_custkey, c_acctbal FROM customer
               |WHERE c_custkey >= $lo AND c_custkey < $hi""".stripMargin)
    // batch 2's sequence range from the fixture's own arithmetic
    val n1 = e.sql("SELECT COUNT(*) AS n FROM customer WHERE c_custkey < 100")
      .head().getLong(0)
    val n12 = e.sql("SELECT COUNT(*) AS n FROM customer WHERE c_custkey < 200")
      .head().getLong(0)
    // truncate every log file whose sequences lie inside batch 2
    val logDir = java.nio.file.Paths.get(e.baseDir, "tables", "doc", "log")
    val files = java.nio.file.Files.list(logDir).iterator()
    val it = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
    for (f <- it if f.getFileName.toString.startsWith("part-")) {
      val r = s.read.parquet(f.toString)
        .agg(min(col("sequence")), max(col("sequence"))).head()
      if (r.getLong(0) > n1 && r.getLong(1) <= n12) {
        val bytes = java.nio.file.Files.readAllBytes(f)
        java.nio.file.Files.write(f, bytes.take(bytes.length / 2))
      }
    }
    e.sql("REPAIR TABLE doc")
    // the meta row carries the floor REPAIR actually set — the oracle
    // expects exactly batch 2's top sequence (count of keys < 200)
    val floor = e.catalog.retentionFloor("doc")
    e.sql(s"""SELECT k, bal FROM doc
             |UNION ALL
             |SELECT -1, CAST($floor AS DOUBLE)
             |ORDER BY k""".stripMargin)
  }

  val all: Seq[Q] = Seq(
    qSqlAsOfSeq, qSqlAsOfTs, qSqlSystemAll, qSqlBetween, qSqlSnapshot,
    qLifecycleCurrent, qLifecycleAsOf, qTxnLifecycle, qFkLifecycle,
    qStreamIngest, qSqlPassthrough, qSqlView, qMatView, qMatViewInc,
    qMatViewMinMax, qMatViewAvg, qMatViewAcd, qMatViewJoin, qMatViewJoin3,
    qMatViewJoin5,
    qMatViewHaving, qMatViewExpr, qMatViewCd, qMatViewPctl, qShowMatviews,
    qTriggerAudit,
    qProcCall, qMvccSessions, qConstraints, qSequences, qAutoIncrement,
    qRls, qBackupRestore, qAuditLog, qGrants, qResultCache, qMigrations,
    qMetrics, qVacuumRetain, qDiffTable, qZOrder, qStreamDedup,
    qStreamNearDedup,
    qShowStats, qShowHistogram, qSecurityThreats, qSecuritySessions,
    qAlerts, qRepair)
    .map(q => q.copy(run = (s, dir) => QueryEngine.scratchScope(s)(q.run(s, dir))))
}
