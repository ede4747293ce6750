package graft.exec

import graft.TestSpark
import graft.state.Snapshots
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 engine-surface features: materialized views with REFRESH,
  * trigger registry, EXPLAIN FORMAT JSON, and the auto-snapshot
  * policy. */
class EngineFeatureSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def seeded(): QueryEngine = {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, grp STRING, val DOUBLE)")
    e.sql("INSERT INTO t VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    e
  }

  private def rows(e: QueryEngine, q: String): Seq[Row] =
    e.sql(q).collect().toSeq

  test("materialized view serves stored data until REFRESH") {
    val e = seeded()
    e.sql("""CREATE MATERIALIZED VIEW mv AS
            |SELECT grp, COUNT(*) AS n, SUM(val) AS total
            |FROM t GROUP BY grp""".stripMargin)
    assert(rows(e, "SELECT grp, n, total FROM mv ORDER BY grp")
      === Seq(Row("a", 2L, 30.0), Row("b", 1L, 30.0)))
    // base-table DML does NOT show through: the matview is frozen
    e.sql("INSERT INTO t VALUES (4, 'b', 40)")
    e.sql("DELETE FROM t WHERE id = 1")
    assert(rows(e, "SELECT grp, n FROM mv ORDER BY grp")
      === Seq(Row("a", 2L), Row("b", 1L)))
    // a plain view over the same SQL tracks live state, side by side
    e.sql("CREATE VIEW lv AS SELECT grp, COUNT(*) AS n FROM t GROUP BY grp")
    assert(rows(e,
      """SELECT m.grp, m.n AS frozen, l.n AS live
        |FROM mv m JOIN lv l ON m.grp = l.grp ORDER BY m.grp""".stripMargin)
      === Seq(Row("a", 2L, 1L), Row("b", 1L, 2L)))
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert(rows(e, "SELECT grp, n, total FROM mv ORDER BY grp")
      === Seq(Row("a", 1L, 20.0), Row("b", 2L, 70.0)))
    // SHOW TABLES reports the kind
    assert(rows(e, "SHOW TABLES").collect {
      case r if r.getString(0) == "mv" => r.getString(1)
    } === Seq("materialized view"))
  }

  test("materialized view persists across restart; DROP removes storage") {
    val e = seeded()
    e.sql("CREATE MATERIALIZED VIEW mv AS SELECT COUNT(*) AS n FROM t")
    e.sql("INSERT INTO t VALUES (9, 'z', 0)")
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    // still serves the materialization from before the restart
    assert(rows(e2, "SELECT n FROM mv") === Seq(Row(3L)))
    e2.sql("REFRESH MATERIALIZED VIEW mv")
    assert(rows(e2, "SELECT n FROM mv") === Seq(Row(4L)))
    e2.sql("DROP VIEW mv")
    intercept[Exception](e2.sql("SELECT n FROM mv").collect())
    val fs = new org.apache.hadoop.fs.Path(e.baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${e.baseDir}/matviews/mv")))
    // the name is reusable as a plain view
    e2.sql("CREATE VIEW mv AS SELECT 1 AS n")
    assert(rows(e2, "SELECT n FROM mv") === Seq(Row(1)))
    e2.close()
  }

  test("materialized view guards: txn, unknown refresh, name clashes") {
    val e = seeded()
    e.sql("BEGIN")
    intercept[IllegalStateException] {
      e.sql("CREATE MATERIALIZED VIEW mtx AS SELECT * FROM t")
    }
    e.sql("ROLLBACK")
    intercept[IllegalArgumentException] {
      e.sql("REFRESH MATERIALIZED VIEW nope")
    }
    e.sql("CREATE VIEW pv AS SELECT * FROM t")
    intercept[IllegalArgumentException] { // plain views can't REFRESH
      e.sql("REFRESH MATERIALIZED VIEW pv")
    }
    intercept[IllegalArgumentException] { // clash with existing view
      e.sql("CREATE MATERIALIZED VIEW pv AS SELECT * FROM t")
    }
    intercept[IllegalArgumentException] { // clash with existing table
      e.sql("CREATE MATERIALIZED VIEW t AS SELECT 1 AS x")
    }
  }

  test("trigger registry: create, show, persist, drop") {
    val e = seeded()
    e.sql("CREATE TRIGGER trg_audit AFTER INSERT ON t EXECUTE PROCEDURE log_it()")
    e.sql("CREATE TRIGGER trg_guard BEFORE DELETE ON t EXECUTE PROCEDURE guard()")
    val shown = rows(e, "SHOW TRIGGERS")
    assert(shown.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      === Seq(("trg_audit", "AFTER", "INSERT"), ("trg_guard", "BEFORE", "DELETE")))
    intercept[IllegalArgumentException] { // duplicate name
      e.sql("CREATE TRIGGER trg_audit AFTER UPDATE ON t EXECUTE PROCEDURE x()")
    }
    intercept[IllegalArgumentException] { // unknown table
      e.sql("CREATE TRIGGER trg_x AFTER INSERT ON nope EXECUTE PROCEDURE x()")
    }
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    assert(rows(e2, "SHOW TRIGGERS").size === 2)
    e2.sql("DROP TRIGGER trg_audit")
    assert(rows(e2, "SHOW TRIGGERS").map(_.getString(0)) === Seq("trg_guard"))
    intercept[IllegalArgumentException](e2.sql("DROP TRIGGER trg_audit"))
    e2.sql("DROP TRIGGER IF EXISTS trg_audit") // idempotent form
    e2.close()
  }

  test("trigger with an empty body survives a catalog reload") {
    val e = seeded()
    // the catalog line for this trigger ends in an empty field — a
    // trailing-empty-dropping split would brick every subsequent open
    e.sql("CREATE TRIGGER trg_bare AFTER INSERT ON t")
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    assert(rows(e2, "SHOW TRIGGERS").map(_.getString(0)) === Seq("trg_bare"))
    // triggers on a dropped table go with it
    e2.sql("DROP TABLE t")
    assert(rows(e2, "SHOW TRIGGERS").isEmpty)
    e2.close()
  }

  test("create or replace materialized view swaps definition and data") {
    val e = seeded()
    e.sql("CREATE MATERIALIZED VIEW mv AS SELECT COUNT(*) AS n FROM t")
    assert(rows(e, "SELECT n FROM mv") === Seq(Row(3L)))
    // without OR REPLACE the name is taken
    intercept[IllegalArgumentException] {
      e.sql("CREATE MATERIALIZED VIEW mv AS SELECT 99 AS n")
    }
    e.sql("CREATE OR REPLACE MATERIALIZED VIEW mv AS SELECT SUM(val) AS n FROM t")
    assert(rows(e, "SELECT n FROM mv") === Seq(Row(60.0)))
    // replace in the other direction: matview -> plain view
    e.sql("CREATE OR REPLACE VIEW mv AS SELECT COUNT(*) AS n FROM t")
    e.sql("INSERT INTO t VALUES (4, 'c', 1.0)")
    assert(rows(e, "SELECT n FROM mv") === Seq(Row(4L))) // live now
  }

  test("temporal spec over a materialized view raises instead of lying") {
    val e = seeded()
    e.sql("CREATE MATERIALIZED VIEW mv AS SELECT COUNT(*) AS n FROM t")
    val ex = intercept[IllegalArgumentException] {
      e.sql("SELECT n FROM mv FOR SYSTEM_TIME AS OF @SEQ:2").collect()
    }
    assert(ex.getMessage.contains("not temporal"))
  }

  test("refresh keeps one superseded matview version as a reader grace") {
    val e = seeded()
    e.sql("CREATE MATERIALIZED VIEW mv AS SELECT COUNT(*) AS n FROM t")
    val fs = new org.apache.hadoop.fs.Path(e.baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions = (0L to 3L).filter(v => fs.exists(
      new org.apache.hadoop.fs.Path(e.catalog.mviewDataPath("mv", v))))
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert(versions === Seq(0L, 1L)) // v0 kept for in-flight readers
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert(versions === Seq(1L, 2L)) // storage stays bounded at two
  }

  test("a read-only transaction commits without taking the write lock") {
    val e1 = seeded() // holds the write lock
    val e2 = new QueryEngine(spark, e1.baseDir)
    e2.sql("BEGIN")
    assert(rows(e2, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
    e2.sql("COMMIT") // must not contend for (or steal) e1's lock
    e1.sql("INSERT INTO t VALUES (4, 'd', 4.5)") // e1 still writes fine
    assert(rows(e1, "SELECT COUNT(*) AS n FROM t") === Seq(Row(4L)))
    e1.close(); e2.close()
  }

  test("explain format json emits a parseable plan tree") {
    val e = seeded()
    val planJson = rows(e,
      "EXPLAIN FORMAT JSON SELECT grp, COUNT(*) AS n FROM t WHERE id > 1 GROUP BY grp")
      .head.getString(0)
    val parsed = org.json4s.jackson.JsonMethods.parse(planJson)
    // the serialized tree is a non-empty array of operator nodes, each
    // naming its class (under AQE the real operators nest inside the
    // AdaptiveSparkPlanExec node's inputPlan field)
    assert(parsed.children.nonEmpty)
    // the real operators are in the tree (nested under AQE's inputPlan)
    assert(planJson.contains("HashAggregateExec"))
    assert(planJson.contains("\"name\":\"grp\""))
    // text mode is unchanged
    assert(rows(e, "EXPLAIN SELECT * FROM t").head.getString(0)
      .contains("Physical Plan"))
  }

  test("explain format yaml emits a node/detail/children tree") {
    val e = seeded()
    val yaml = rows(e,
      "EXPLAIN FORMAT YAML SELECT grp, COUNT(*) AS n FROM t WHERE id > 1 GROUP BY grp")
      .head.getString(0)
    // structure: every operator line is `- node: <name>` with a quoted
    // detail; the root is AQE with the real plan as its child subtree
    assert(yaml.startsWith("- node: "))
    assert(yaml.contains("  detail: \""))
    assert(yaml.contains("children:"))
    assert(yaml.linesIterator.forall(l =>
      l.trim.isEmpty || l.trim.startsWith("- node:") ||
        l.trim.startsWith("detail:") || l.trim.startsWith("children:")))
  }

  test("auto-snapshot checkpoints a table once enough events accumulate") {
    val e = seeded() // 3 events, default threshold too high to fire
    assert(Snapshots.available(spark, e.catalog.snapshotPath("t")).isEmpty)
    e.commit.autoSnapshotEvery = 5
    e.sql("INSERT INTO t VALUES (4, 'c', 40)") // 4 events: below
    assert(Snapshots.available(spark, e.catalog.snapshotPath("t")).isEmpty)
    e.sql("INSERT INTO t VALUES (5, 'c', 50)") // 5 events: fires
    assert(Snapshots.available(spark, e.catalog.snapshotPath("t")) === Seq(5L))
    // reads stay correct through the snapshot, current and as-of
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(5L)))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:2")
      === Seq(Row(2L)))
    // next threshold counts from the new snapshot, not from zero
    e.sql("UPDATE t SET val = 0 WHERE id = 1") // 6 events
    assert(Snapshots.available(spark, e.catalog.snapshotPath("t")) === Seq(5L))
    (6 to 9).foreach(i => e.sql(s"INSERT INTO t VALUES ($i, 'd', $i)")) // 10
    assert(Snapshots.available(spark, e.catalog.snapshotPath("t")) === Seq(5L, 10L))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(9L)))
    // a COMMIT that crosses the threshold checkpoints like any publish,
    // once its transaction has cleared
    e.sql("BEGIN")
    (10 to 14).foreach(i => e.sql(s"INSERT INTO t VALUES ($i, 'e', $i)")) // 15
    assert(Snapshots.available(spark, e.catalog.snapshotPath("t")) === Seq(5L, 10L))
    e.sql("COMMIT")
    assert(!e.inTransaction)
    assert(Snapshots.available(spark, e.catalog.snapshotPath("t")) === Seq(5L, 10L, 15L))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(14L)))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:12")
      === Seq(Row(11L)))
  }
}
