package graft.exec

import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end engine-shell tests: every statement enters through
  * `engine.sql(<string>)`, exactly as a reference user would drive
  * `execute_sql` (sql_bridge.rs:234-237). Covers the DDL/DML lifecycle,
  * temporal reads, schema evolution, views, snapshots, JSONL ingest,
  * and catalog persistence across engine restarts.
  */
class QueryEngineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh(): QueryEngine = QueryEngine.scratch(spark)

  private def seeded(): QueryEngine = {
    val e = fresh()
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, name STRING, val DOUBLE)")
    e.sql("INSERT INTO t VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)")
    e
  }

  private def rows(e: QueryEngine, q: String): Seq[Row] =
    e.sql(q).collect().toSeq

  test("create / insert values / select") {
    val e = seeded()
    val got = rows(e, "SELECT id, name, val FROM t ORDER BY id")
    assert(got === Seq(Row(1L, "a", 1.5), Row(2L, "b", 2.5), Row(3L, "c", 3.5)))
  }

  test("insert enforces pk uniqueness, within batch and against state") {
    val e = seeded()
    intercept[IllegalArgumentException] {
      e.sql("INSERT INTO t VALUES (1, 'dup', 0.0)")
    }
    intercept[IllegalArgumentException] {
      e.sql("INSERT INTO t VALUES (9, 'x', 0.0), (9, 'y', 0.0)")
    }
    // failed inserts must not leave partial state behind
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
  }

  test("insert with explicit column list fills the rest with NULL") {
    val e = seeded()
    e.sql("INSERT INTO t (id, name) VALUES (4, 'd')")
    assert(rows(e, "SELECT id, name, val FROM t WHERE id = 4")
      === Seq(Row(4L, "d", null)))
  }

  test("update emits full-row patches; where + expression RHS") {
    val e = seeded()
    e.sql("UPDATE t SET val = val * 10, name = upper(name) WHERE id >= 2")
    val got = rows(e, "SELECT id, name, val FROM t ORDER BY id")
    assert(got === Seq(Row(1L, "a", 1.5), Row(2L, "B", 25.0), Row(3L, "C", 35.0)))
  }

  test("pk-changing update is soft-delete + insert (PG semantics)") {
    val e = seeded()
    e.sql("UPDATE t SET id = id + 100 WHERE id = 1")
    val got = rows(e, "SELECT id, name FROM t ORDER BY id")
    assert(got === Seq(Row(2L, "b"), Row(3L, "c"), Row(101L, "a")))
    // the old pk's history shows the tombstone
    val hist = rows(e,
      "SELECT event_type FROM t FOR SYSTEM_TIME ALL WHERE id = 1 ORDER BY sequence")
    assert(hist.map(_.getString(0)) === Seq("INSERT", "SOFT_DELETE"))
  }

  test("delete, truncate, and as-of reads across the lifecycle") {
    val e = seeded() // sequences 1..3 = inserts
    e.sql("DELETE FROM t WHERE id = 2") // seq 4
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(2L)))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:3")
      === Seq(Row(3L)))
    e.sql("TRUNCATE t")
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(0L)))
    // history intact after truncate
    assert(rows(e, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:3")
      === Seq(Row(3L)))
  }

  test("insert-select from another table") {
    val e = seeded()
    e.sql("CREATE TABLE t2 (id BIGINT PRIMARY KEY, name STRING)")
    e.sql("INSERT INTO t2 SELECT id, name FROM t WHERE id <= 2")
    assert(rows(e, "SELECT id, name FROM t2 ORDER BY id")
      === Seq(Row(1L, "a"), Row(2L, "b")))
  }

  test("alter table add / rename / drop column with history-safe reads") {
    val e = seeded()
    e.sql("ALTER TABLE t ADD COLUMN tag STRING")
    // pre-ALTER rows read NULL for the new column
    assert(rows(e, "SELECT tag FROM t WHERE id = 1") === Seq(Row(null)))
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5, 'new')")
    assert(rows(e, "SELECT tag FROM t WHERE id = 4") === Seq(Row("new")))
    e.sql("ALTER TABLE t RENAME COLUMN tag TO label")
    // rename is metadata-only: old data still readable under new name
    assert(rows(e, "SELECT label FROM t WHERE id = 4") === Seq(Row("new")))
    e.sql("ALTER TABLE t DROP COLUMN label")
    assert(!e.sql("SELECT * FROM t").columns.contains("label"))
    // drop + re-add of the same name must not resurrect old values
    e.sql("ALTER TABLE t ADD COLUMN label STRING")
    assert(rows(e, "SELECT label FROM t WHERE id = 4") === Seq(Row(null)))
  }

  test("snapshot-accelerated time travel matches full replay") {
    val e = seeded()
    e.sql("UPDATE t SET val = 0 WHERE id = 1") // seq 4
    e.sql("SNAPSHOT t")
    e.sql("INSERT INTO t VALUES (5, 'e', 5.5)") // seq 5
    val got = rows(e, "SELECT id, val FROM t ORDER BY id")
    assert(got === Seq(Row(1L, 0.0), Row(2L, 2.5), Row(3L, 3.5), Row(5L, 5.5)))
    // as-of before the snapshot still answers correctly
    assert(rows(e, "SELECT val FROM t FOR SYSTEM_TIME AS OF @SEQ:3 WHERE id = 1")
      === Seq(Row(1.5)))
  }

  test("snapshot at the current sequence serves a flat scan with no window") {
    val e = seeded() // 3 inserts = seq 3
    e.sql("SNAPSHOT t")
    // no tail events past the checkpoint: the read must carry no
    // window exchange — a post-checkpoint read is a plain scan
    val plan = e.sql("SELECT id, val FROM t").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(rows(e, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L)))
    // a write past the checkpoint re-introduces the tail: collapse path
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    assert(rows(e, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L), Row(4L)))
  }

  test("attached event logs never take the checkpoint fast path (no counter)") {
    import spark.implicits._
    val e = QueryEngine.scratch(spark)
    // 3 inserts then an update at seq 4 — attached, so the engine has
    // no sequence counter for it
    val log = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "INSERT", "1", 1L, "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), "INSERT", "2", 2L, "b"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), "INSERT", "3", 3L, "c"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:04"), "INSERT", "2", 2L, "B2"))
      .toDF("sequence", "ts", "event_type", "pk", "id", "name")
      .select(org.apache.spark.sql.functions.col("sequence"),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("pk"),
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("name")).as("payload"))
    e.attachEventLog("att", "id", log)
    // checkpoint at seq 2, then read past it: the tail (seq 3, 4) MUST
    // be replayed even though lastSeq bookkeeping says 0 for attached
    e.snapshot("att", atSeq = Some(2L))
    assert(rows(e, "SELECT id, name FROM att ORDER BY id")
      === Seq(Row(1L, "a"), Row(2L, "B2"), Row(3L, "c")))
    assert(rows(e,
      "SELECT id, name FROM att FOR SYSTEM_TIME AS OF @SEQ:3 ORDER BY id")
      === Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
  }

  test("views expand recursively through the catalog") {
    val e = seeded()
    e.sql("CREATE VIEW big AS SELECT * FROM t WHERE val > 2")
    e.sql("CREATE VIEW bigger AS SELECT id FROM big WHERE val > 3")
    assert(rows(e, "SELECT id FROM bigger ORDER BY id") === Seq(Row(3L)))
    e.sql("DROP VIEW bigger")
    intercept[Exception](e.sql("SELECT * FROM nosuchview WHERE false").collect())
  }

  test("catalog and event log persist across engine restart") {
    val e = seeded()
    e.sql("UPDATE t SET name = 'z' WHERE id = 3")
    val dir = e.baseDir
    e.close() // release the base-dir write lock for the successor
    val e2 = new QueryEngine(spark, dir)
    assert(rows(e2, "SELECT name FROM t WHERE id = 3") === Seq(Row("z")))
    // sequence counter restored: next insert continues, no collision
    e2.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    assert(rows(e2, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME ALL")
      === Seq(Row(5L)))
  }

  test("copy from jsonl ingests by column name") {
    val e = seeded()
    val f = java.nio.file.Files.createTempFile("graft-ingest", ".jsonl")
    java.nio.file.Files.writeString(f,
      """{"id": 10, "name": "j1", "val": 0.5}
        |{"id": 11, "name": "j2"}
        |""".stripMargin)
    e.sql(s"COPY t FROM '${f.toString}'")
    assert(rows(e, "SELECT id, name, val FROM t WHERE id >= 10 ORDER BY id")
      === Seq(Row(10L, "j1", 0.5), Row(11L, "j2", null)))
  }

  test("explain / analyze / show tables / describe") {
    val e = seeded()
    val plan = rows(e, "EXPLAIN SELECT * FROM t WHERE id = 1").head.getString(0)
    assert(plan.contains("Physical Plan"))
    assert(rows(e, "ANALYZE TABLE t").head.getAs[Long]("n_rows") === 3L)
    assert(rows(e, "SHOW TABLES").map(_.getString(0)).contains("t"))
    val desc = rows(e, "DESCRIBE t")
    assert(desc.map(_.getString(0)) === Seq("id", "name", "val"))
    assert(desc.find(_.getString(0) == "id").get.getBoolean(2))
  }

  test("create index records metadata; drop table removes it from catalog") {
    val e = seeded()
    e.sql("CREATE INDEX idx_name ON t (name)")
    assert(e.catalog.indexNames.contains("idx_name"))
    e.sql("DROP TABLE t")
    // the name must stop resolving entirely (catalog + stale temp view)
    intercept[Exception](e.sql("SELECT * FROM t").collect())
  }

  test("drop table deletes storage: recreate starts empty, sequences restart") {
    val e = seeded() // seq 1..3
    e.sql("SNAPSHOT t") // a stale checkpoint must not resurrect either
    e.sql("DROP TABLE t")
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, name STRING, val DOUBLE)")
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(0L)))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME ALL")
      === Seq(Row(0L)))
    e.sql("INSERT INTO t VALUES (7, 'x', 0.5)")
    // the new log starts at sequence 1 and contains only the new row
    assert(rows(e, "SELECT sequence, id FROM t FOR SYSTEM_TIME ALL")
      === Seq(Row(1L, 7L)))
    assert(rows(e, "SELECT id, name FROM t") === Seq(Row(7L, "x")))
  }

  test("pk-changing update to a live key raises; state is untouched") {
    val e = seeded()
    intercept[IllegalArgumentException] {
      e.sql("UPDATE t SET id = 2 WHERE id = 1")
    }
    assert(rows(e, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L)))
    // keys vacated by the same statement are fair game (2->3 while 3->4)
    e.sql("UPDATE t SET id = id + 1 WHERE id >= 2")
    assert(rows(e, "SELECT id, name FROM t ORDER BY id")
      === Seq(Row(1L, "a"), Row(3L, "b"), Row(4L, "c")))
  }

  test("add/drop/re-add of the same column name never resurrects data") {
    val e = seeded()
    e.sql("ALTER TABLE t ADD COLUMN tag STRING")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5, 'secret')")
    e.sql("ALTER TABLE t DROP COLUMN tag")
    e.sql("ALTER TABLE t ADD COLUMN tag STRING")
    assert(rows(e, "SELECT tag FROM t WHERE id = 4") === Seq(Row(null)))
    // the column counter persists across engine restart
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    e2.sql("ALTER TABLE t DROP COLUMN tag")
    e2.sql("ALTER TABLE t ADD COLUMN tag STRING")
    assert(rows(e2, "SELECT tag FROM t WHERE id = 4") === Seq(Row(null)))
  }

  test("as-of read is not clobbered by a stored view on the same table") {
    val e = seeded() // seq 1..3
    e.sql("CREATE VIEW tcount AS SELECT COUNT(*) AS n FROM t")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)") // seq 4
    // the statement references both t (AS OF) and the view; expansion
    // must not re-register t at current state, and the view (a SQL
    // macro with no spec of its own) reads at the statement's AS OF
    val got = rows(e,
      """SELECT (SELECT n FROM tcount) AS vn, COUNT(*) AS tn
        |FROM t FOR SYSTEM_TIME AS OF @SEQ:3""".stripMargin)
    assert(got === Seq(Row(3L, 3L)))
    // without a temporal clause both read current state
    assert(rows(e, "SELECT n FROM tcount") === Seq(Row(4L)))
  }

  test("explain analyze executes and reports timing + row count") {
    val e = seeded()
    val r = rows(e, "EXPLAIN ANALYZE SELECT * FROM t WHERE id >= 2").head
    assert(r.getAs[String]("plan").contains("Physical Plan"))
    assert(r.getAs[Long]("n_rows") === 2L)
    assert(r.getAs[Double]("elapsed_ms") >= 0.0)
  }

  test("rollback leaves state and history untouched") {
    val e = seeded() // seq 1..3
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    e.sql("UPDATE t SET val = 0 WHERE id = 1")
    e.sql("DELETE FROM t WHERE id = 2")
    // read-your-writes inside the transaction
    assert(rows(e, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(3L), Row(4L)))
    e.sql("ROLLBACK")
    assert(rows(e, "SELECT id, val FROM t ORDER BY id")
      === Seq(Row(1L, 1.5), Row(2L, 2.5), Row(3L, 3.5)))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME ALL")
      === Seq(Row(3L)))
    // sequences did not advance for the discarded writes
    e.sql("INSERT INTO t VALUES (9, 'z', 9.9)")
    assert(rows(e, "SELECT MAX(sequence) AS s FROM t FOR SYSTEM_TIME ALL")
      === Seq(Row(4L)))
  }

  test("commit flushes buffered writes atomically") {
    val e = seeded()
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    e.sql("UPDATE t SET name = upper(name) WHERE id <= 2")
    // a second engine over the same dir must not see uncommitted writes
    val peek = new QueryEngine(spark, e.baseDir)
    assert(rows(peek, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
    e.sql("COMMIT")
    assert(rows(e, "SELECT id, name FROM t ORDER BY id")
      === Seq(Row(1L, "A"), Row(2L, "B"), Row(3L, "c"), Row(4L, "d")))
    // BEGIN is idempotent; COMMIT outside a txn is a no-op (PG)
    e.sql("BEGIN"); e.sql("BEGIN"); e.sql("COMMIT"); e.sql("COMMIT")
  }

  test("savepoint partial rollback keeps earlier writes") {
    val e = seeded()
    e.sql("BEGIN")
    e.sql("UPDATE t SET name = 'kept' WHERE id = 1")
    e.sql("SAVEPOINT sp1")
    e.sql("DELETE FROM t WHERE id >= 2")
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(1L)))
    e.sql("ROLLBACK TO SAVEPOINT sp1")
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
    e.sql("COMMIT")
    assert(rows(e, "SELECT name FROM t WHERE id = 1") === Seq(Row("kept")))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
  }

  test("failed statement aborts the transaction until rollback") {
    val e = seeded()
    e.sql("BEGIN")
    e.sql("UPDATE t SET name = 'x' WHERE id = 1")
    intercept[IllegalArgumentException] { // duplicate pk
      e.sql("INSERT INTO t VALUES (2, 'dup', 0.0)")
    }
    val ex = intercept[IllegalStateException] {
      e.sql("SELECT * FROM t")
    }
    assert(ex.getMessage.contains("aborted"))
    // COMMIT of an aborted transaction rolls back (PG)
    e.sql("COMMIT")
    assert(rows(e, "SELECT name FROM t WHERE id = 1") === Seq(Row("a")))
    // ROLLBACK TO SAVEPOINT clears the abort and the txn continues
    e.sql("BEGIN")
    e.sql("SAVEPOINT s")
    intercept[IllegalArgumentException](e.sql("INSERT INTO t VALUES (1, 'd', 0.0)"))
    e.sql("ROLLBACK TO SAVEPOINT s")
    e.sql("UPDATE t SET name = 'ok' WHERE id = 3")
    e.sql("COMMIT")
    assert(rows(e, "SELECT name FROM t WHERE id = 3") === Seq(Row("ok")))
  }

  test("transaction guards: rollback outside txn, drop/snapshot inside") {
    val e = seeded()
    intercept[IllegalStateException](e.sql("ROLLBACK"))
    intercept[IllegalStateException](e.sql("SAVEPOINT s"))
    e.sql("BEGIN")
    intercept[IllegalStateException](e.sql("DROP TABLE t"))
    intercept[IllegalStateException](e.sql("SNAPSHOT t"))
    intercept[IllegalArgumentException](e.sql("ROLLBACK TO SAVEPOINT nope"))
    e.sql("ROLLBACK")
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
  }

  test("foreign keys: inline + constraint forms parse and enforce") {
    val e = fresh()
    e.sql("CREATE TABLE dept (id BIGINT PRIMARY KEY, dname STRING)")
    e.sql("INSERT INTO dept VALUES (1, 'eng'), (2, 'ops')")
    // inline REFERENCES used to throw inside DataType.fromDDL
    e.sql("""CREATE TABLE emp (eid BIGINT PRIMARY KEY, ename STRING,
            |  dept_id BIGINT REFERENCES dept(id))""".stripMargin)
    e.sql("INSERT INTO emp VALUES (10, 'ann', 1), (11, 'bob', NULL)")
    // orphan insert raises; NULL passed above (MATCH SIMPLE)
    intercept[IllegalArgumentException] {
      e.sql("INSERT INTO emp VALUES (12, 'eve', 99)")
    }
    // UPDATE to a missing parent raises; to a live one succeeds
    intercept[IllegalArgumentException] {
      e.sql("UPDATE emp SET dept_id = 42 WHERE eid = 10")
    }
    e.sql("UPDATE emp SET dept_id = 2 WHERE eid = 10")
    // RESTRICT: referenced parent cannot be deleted, unreferenced can
    intercept[IllegalArgumentException] {
      e.sql("DELETE FROM dept WHERE id = 2")
    }
    e.sql("DELETE FROM dept WHERE id = 1")
    assert(rows(e, "SELECT id FROM dept") === Seq(Row(2L)))
    // table-level FOREIGN KEY (...) REFERENCES form
    e.sql("""CREATE TABLE task (tid BIGINT PRIMARY KEY, eid BIGINT,
            |  FOREIGN KEY (eid) REFERENCES emp(eid))""".stripMargin)
    intercept[IllegalArgumentException] {
      e.sql("INSERT INTO task VALUES (1, 999)")
    }
    e.sql("INSERT INTO task VALUES (1, 10)")
    // FK registry survives engine restart
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    intercept[IllegalArgumentException] {
      e2.sql("INSERT INTO task VALUES (2, 999)")
    }
  }

  test("self-referencing foreign key: batch siblings and chain deletes") {
    val e = fresh()
    e.sql("""CREATE TABLE emp (eid BIGINT PRIMARY KEY, mgr BIGINT,
            |  FOREIGN KEY (mgr) REFERENCES emp(eid))""".stripMargin)
    // 20 reports to 10, inserted in the same statement
    e.sql("INSERT INTO emp VALUES (10, NULL), (20, 10)")
    intercept[IllegalArgumentException] {
      e.sql("INSERT INTO emp VALUES (30, 99)")
    }
    // deleting only the manager is blocked; deleting the chain is fine
    intercept[IllegalArgumentException] {
      e.sql("DELETE FROM emp WHERE eid = 10")
    }
    e.sql("DELETE FROM emp WHERE eid IN (10, 20)")
    assert(rows(e, "SELECT COUNT(*) AS n FROM emp") === Seq(Row(0L)))
  }

  test("parameterized statements bind $N placeholders as literals") {
    val e = seeded()
    assert(rows(e, "SELECT id, name FROM t WHERE id = 2").nonEmpty)
    val got = e.sql("SELECT id, name FROM t WHERE id >= $1 AND name <> $2 ORDER BY id",
      Seq(2, "b")).collect().toSeq
    assert(got === Seq(Row(3L, "c")))
    // DML with params; $ inside a string literal is not a placeholder
    e.sql("INSERT INTO t VALUES ($1, $2, $3)", Seq(4, "has $1 inside", 4.5))
    assert(rows(e, "SELECT name FROM t WHERE id = 4") === Seq(Row("has $1 inside")))
    // NULL, repeated use, out-of-range
    e.sql("UPDATE t SET val = $1 WHERE id = $2 OR id = $2 + 2", Seq(null, 1))
    assert(rows(e, "SELECT val FROM t WHERE id = 1") === Seq(Row(null)))
    intercept[IllegalArgumentException](e.sql("SELECT $3", Seq(1)))
  }

  test("two engines over different dirs share one session serially") {
    val e1 = fresh()
    val e2 = fresh()
    e1.sql("CREATE TABLE shared (id BIGINT PRIMARY KEY, src STRING)")
    e2.sql("CREATE TABLE shared (id BIGINT PRIMARY KEY, src STRING)")
    e1.sql("INSERT INTO shared VALUES (1, 'one')")
    e2.sql("INSERT INTO shared VALUES (2, 'two')")
    // every statement re-resolves its own names, so interleaved serial
    // use never reads the other engine's registration
    assert(rows(e1, "SELECT id, src FROM shared") === Seq(Row(1L, "one")))
    assert(rows(e2, "SELECT id, src FROM shared") === Seq(Row(2L, "two")))
    e1.sql("UPDATE shared SET src = 'ONE' WHERE id = 1")
    assert(rows(e2, "SELECT src FROM shared") === Seq(Row("two")))
    assert(rows(e1, "SELECT src FROM shared") === Seq(Row("ONE")))
    e1.sql("DROP TABLE shared")
    assert(rows(e2, "SELECT COUNT(*) AS n FROM shared") === Seq(Row(1L)))
  }

  test("table names in string literals and comments are not references") {
    val e = seeded()
    // a second table whose name appears only inside a literal + comment
    e.sql("CREATE TABLE audit (id BIGINT PRIMARY KEY, note STRING)")
    e.sql("INSERT INTO audit VALUES (1, 'about t and more')")
    val got = rows(e,
      """SELECT id, 'audit says t is fine' AS note -- audit trail for t
        |FROM t WHERE id = 1""".stripMargin)
    assert(got === Seq(Row(1L, "audit says t is fine")))
  }

  test("dropping a parent table referenced by a child is blocked") {
    val e = fresh()
    e.sql("CREATE TABLE p (id BIGINT PRIMARY KEY)")
    e.sql("CREATE TABLE c (id BIGINT PRIMARY KEY, pid BIGINT REFERENCES p(id))")
    val ex = intercept[IllegalStateException](e.sql("DROP TABLE p"))
    assert(ex.getMessage.contains("c.pid"))
    e.sql("DROP TABLE c")
    e.sql("DROP TABLE p") // child gone, parent drops fine
    // a self-referencing table can always drop itself
    e.sql("CREATE TABLE s (id BIGINT PRIMARY KEY, m BIGINT REFERENCES s(id))")
    e.sql("DROP TABLE s")
  }

  test("string params with backslashes and quotes stay inside the literal") {
    val e = seeded()
    // a crafted value must not break out of the literal (backslash
    // would swallow the closing quote under Spark's escape parsing)
    val evil = "x\\' OR '1'='1"
    e.sql("INSERT INTO t VALUES ($1, $2, $3)", Seq(7, evil, 0.0))
    assert(rows(e, "SELECT name FROM t WHERE id = 7") === Seq(Row(evil)))
    assert(e.sql("SELECT id FROM t WHERE name = $1", Seq(evil)).count() === 1)
    val trailing = "ends with backslash\\"
    e.sql("UPDATE t SET name = $1 WHERE id = $2", Seq(trailing, 7))
    assert(rows(e, "SELECT name FROM t WHERE id = 7") === Seq(Row(trailing)))
  }

  test("update that rewrites a referenced parent key is restricted") {
    val e = fresh()
    e.sql("CREATE TABLE dept (id BIGINT PRIMARY KEY, dname STRING)")
    e.sql("INSERT INTO dept VALUES (1, 'eng'), (2, 'ops'), (3, 'hr')")
    e.sql("""CREATE TABLE emp (eid BIGINT PRIMARY KEY,
            |  dept_id BIGINT REFERENCES dept(id))""".stripMargin)
    e.sql("INSERT INTO emp VALUES (10, 1)")
    // rewriting the referenced key orphans emp.dept_id=1 -> blocked
    intercept[IllegalArgumentException] {
      e.sql("UPDATE dept SET id = 99 WHERE id = 1")
    }
    // unreferenced keys may move; a no-op rewrite of a referenced key
    // (id stays in the after-image) is fine too
    e.sql("UPDATE dept SET id = id + 100 WHERE id >= 2")
    e.sql("UPDATE dept SET dname = 'eng2' WHERE id = 1")
    assert(rows(e, "SELECT id FROM dept ORDER BY id")
      === Seq(Row(1L), Row(102L), Row(103L)))
  }

  test("a view with its own AS OF keeps it when the statement reads current") {
    val e = seeded() // seq 1..3
    e.sql("CREATE VIEW t_at2 AS SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:2")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)") // seq 4
    // statement references t directly (current) AND the pinned view:
    // each keeps its own resolution
    val got = rows(e,
      "SELECT (SELECT n FROM t_at2) AS pinned, COUNT(*) AS cur FROM t")
    assert(got === Seq(Row(2L, 4L)))
    // inverse direction (statement pinned, view unpinned) still holds
    e.sql("CREATE VIEW tcount AS SELECT COUNT(*) AS n FROM t")
    val got2 = rows(e,
      """SELECT (SELECT n FROM tcount) AS vn, COUNT(*) AS tn
        |FROM t FOR SYSTEM_TIME AS OF @SEQ:3""".stripMargin)
    assert(got2 === Seq(Row(3L, 3L)))
  }

  test("streamed batches bypass an open transaction and commit re-sequences") {
    val e = seeded() // seq 1..3
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (10, 'txn', 1.0)") // provisional seq 4
    // a streaming micro-batch lands mid-transaction, straight to storage
    import spark.implicits._
    e.ingestStream("t", Seq((20L, "stream", 2.0)).toDF("id", "name", "val"))
    e.sql("COMMIT")
    // both rows live; sequences are unique and contiguous 1..5
    assert(rows(e, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L), Row(10L), Row(20L)))
    assert(rows(e, "SELECT sequence FROM t FOR SYSTEM_TIME ALL ORDER BY sequence")
      .map(_.getLong(0)) === (1L to 5L))
    // the stream batch kept its pre-commit sequence; the txn shifted
    assert(rows(e, "SELECT sequence FROM t FOR SYSTEM_TIME ALL WHERE id = 20")
      === Seq(Row(4L)))
    assert(rows(e, "SELECT sequence FROM t FOR SYSTEM_TIME ALL WHERE id = 10")
      === Seq(Row(5L)))
    // and a rollback never touches streamed rows
    e.sql("BEGIN")
    e.sql("DELETE FROM t WHERE id = 10")
    e.ingestStream("t", Seq((30L, "s2", 3.0)).toDF("id", "name", "val"))
    e.sql("ROLLBACK")
    assert(rows(e, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L), Row(10L), Row(20L), Row(30L)))
  }

  test("sqlScript runs ;-separated statements, returns the last result") {
    val e = fresh()
    val got = e.sqlScript(
      """CREATE TABLE s (id BIGINT PRIMARY KEY, v STRING);
        |INSERT INTO s VALUES (1, 'a; b'), (2, 'c');
        |BEGIN;
        |UPDATE s SET v = upper(v) WHERE id = 1;
        |COMMIT;
        |SELECT id, v FROM s ORDER BY id;""".stripMargin).collect().toSeq
    assert(got === Seq(Row(1L, "A; B"), Row(2L, "c")))
    // block comments and savepoint case-folding
    assert(rows(e, "SELECT /* s the table */ COUNT(*) AS n FROM s")
      === Seq(Row(2L)))
    e.sql("BEGIN"); e.sql("SAVEPOINT SpOne")
    e.sql("DELETE FROM s WHERE id = 1")
    e.sql("ROLLBACK TO SAVEPOINT spone")
    e.sql("COMMIT")
    assert(rows(e, "SELECT COUNT(*) AS n FROM s") === Seq(Row(2L)))
  }

  test("savepoint rollback + interleaved stream leaves no sequence gap") {
    val e = seeded() // seq 1..3
    import spark.implicits._
    e.sql("BEGIN")
    e.sql("SAVEPOINT s")
    e.sql("INSERT INTO t VALUES (10, 'x', 1.0)") // provisional 4, anchors base=3
    e.ingestStream("t", Seq((20L, "stream", 2.0)).toDF("id", "name", "val")) // real 4
    e.sql("ROLLBACK TO SAVEPOINT s") // batch dropped; anchor must drop too
    e.sql("INSERT INTO t VALUES (11, 'y', 1.0)") // provisional 5 (base now 4)
    e.sql("COMMIT")
    // contiguous 1..5 — a stale anchor would have produced 1,2,3,4,6
    assert(rows(e, "SELECT sequence FROM t FOR SYSTEM_TIME ALL ORDER BY sequence")
      .map(_.getLong(0)) === (1L to 5L))
    assert(rows(e, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L), Row(11L), Row(20L)))
  }

  test("mid-transaction reads are snapshot-isolated with shifted, unique sequences") {
    val e = seeded() // seq 1..3
    import spark.implicits._
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (10, 'txn', 1.0)") // provisional 4, snapshot pinned at 3
    e.ingestStream("t", Seq((20L, "stream", 2.0)).toDF("id", "name", "val")) // real 4
    // snapshot isolation: the stream's post-snapshot commit is invisible
    // mid-txn; the buffered event reads back at 5 (its post-commit
    // home, shifted past the interleaved append), never colliding at 4
    val seqs = rows(e, "SELECT sequence, id FROM t FOR SYSTEM_TIME ALL ORDER BY sequence")
    assert(seqs.map(_.getLong(0)) === Seq(1L, 2L, 3L, 5L))
    assert(seqs.collect { case r if r.getLong(1) == 10L => r.getLong(0) } === Seq(5L))
    e.sql("COMMIT") // pks disjoint — no conflict
    // post-commit history: everything visible, one event per sequence
    val after = rows(e, "SELECT sequence, id FROM t FOR SYSTEM_TIME ALL ORDER BY sequence")
    assert(after.map(_.getLong(0)) === (1L to 5L))
    assert(after.collect { case r if r.getLong(1) == 20L => r.getLong(0) } === Seq(4L))
    assert(after.collect { case r if r.getLong(1) == 10L => r.getLong(0) } === Seq(5L))
  }

  test("a shared sub-view serves pinned and current consumers") {
    val e = seeded() // seq 1..3
    e.sql("CREATE VIEW vb AS SELECT COUNT(*) AS n FROM t")
    e.sql("CREATE VIEW va AS SELECT n FROM vb FOR SYSTEM_TIME AS OF @SEQ:2")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)") // seq 4
    // va pins vb's subtree at seq 2; the statement's direct vb read is
    // current — both must hold in one query, either reference order
    assert(rows(e, "SELECT (SELECT n FROM va) AS a, (SELECT n FROM vb) AS b")
      === Seq(Row(2L, 4L)))
    assert(rows(e, "SELECT (SELECT n FROM vb) AS b, (SELECT n FROM va) AS a")
      === Seq(Row(4L, 2L)))
  }

  test("backslash-escaped quotes in user SQL don't desync name scanning") {
    val e = seeded()
    // after the backslash-escaped literal, t must still register
    val got = rows(e,
      "SELECT id FROM t WHERE name <> 'it\\'s' AND id IN (SELECT id FROM t WHERE id = 2)")
    assert(got === Seq(Row(2L)))
  }

  test("sqlScript handles semicolons in comments and trailing comments") {
    val e = fresh()
    val got = e.sqlScript(
      """CREATE TABLE sc (id BIGINT PRIMARY KEY, v STRING); -- seed; table
        |INSERT INTO sc VALUES (1, 'a'); /* block; comment */
        |SELECT id, v FROM sc; -- done""".stripMargin).collect().toSeq
    assert(got === Seq(Row(1L, "a")))
  }

  test("trailing comments don't defeat statement routing") {
    val e = seeded()
    e.sql("BEGIN -- start txn")
    e.sql("UPDATE t SET name = 'c1' WHERE id = 1 /* inline */")
    e.sql("COMMIT -- done")
    assert(rows(e, "SELECT name FROM t WHERE id = 1") === Seq(Row("c1")))
    // a script whose COMMIT carries the trailing comment (the ; is
    // inside the comment, so it rides along with the statement)
    e.sqlScript("BEGIN; UPDATE t SET name = 'c2' WHERE id = 1; COMMIT -- finalize;")
    assert(rows(e, "SELECT name FROM t WHERE id = 1") === Seq(Row("c2")))
    // a quote inside a comment must not flip param binding's state
    val got = e.sql("SELECT id FROM t -- don't scan\nWHERE id = $1", Seq(2))
      .collect().toSeq
    assert(got === Seq(Row(2L)))
  }

  test("double-quoted strings behave like single-quoted in the scanner") {
    val e = seeded()
    // ; and table names inside "..." are literal content, not code
    val got = e.sqlScript(
      """INSERT INTO t VALUES (7, "semi;colon", 0.5);
        |SELECT id, name FROM t WHERE name = "semi;colon"""".stripMargin)
      .collect().toSeq
    assert(got === Seq(Row(7L, "semi;colon")))
  }

  test("optimizer hints, nested comments, and backtick identifiers survive routing") {
    val e = seeded()
    // a broadcast hint is a comment lexically but not to the planner —
    // routing must pass it through to Catalyst verbatim
    graft.sql.StatementRouter.parse(
      "SELECT /*+ BROADCAST(t) */ a.id FROM t a JOIN t b ON a.id = b.id") match {
      case graft.sql.Statement.Select(q) => assert(q.contains("/*+ BROADCAST(t) */"))
      case other => fail(s"expected Select, got $other")
    }
    val df = e.sql("SELECT /*+ BROADCAST(t) */ a.id FROM t a JOIN t b ON a.id = b.id")
    assert(df.count() === 3)
    // nested bracketed comments (Spark 3.0+) route correctly
    e.sql("BEGIN /* outer /* inner */ still comment */")
    e.sql("UPDATE t SET name = 'n' WHERE id = 1")
    e.sql("COMMIT /* done /* really */ done */")
    assert(rows(e, "SELECT name FROM t WHERE id = 1") === Seq(Row("n")))
    // backtick identifiers: content is opaque to the comment scanner
    assert(rows(e, "SELECT id AS `a--b` FROM t WHERE id = 1").head.getLong(0) === 1L)
    // and a backticked table name still counts as a reference
    assert(rows(e, "SELECT COUNT(*) AS n FROM `t`") === Seq(Row(3L)))
  }

  test("temporal clause inside a string literal is data, not a spec") {
    val e = seeded() // seq 1..3
    e.sql("UPDATE t SET name = 'FOR SYSTEM_TIME ALL' WHERE id = 1")
    // reads current state (not history) and the literal is untouched
    val got = rows(e, "SELECT name FROM t WHERE name = 'FOR SYSTEM_TIME ALL'")
    assert(got === Seq(Row("FOR SYSTEM_TIME ALL")))
    assert(rows(e, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
    // unterminated literal in a parameterized statement raises clearly
    intercept[IllegalArgumentException] {
      e.sql("SELECT * FROM t WHERE name = 'x AND id = $1", Seq(5))
    }
  }

  test("hints in statement prefixes don't defeat routing") {
    val e = seeded()
    // a hint inside UPDATE's prefix: routed via the hint-less retry
    e.sql("UPDATE /*+ REPARTITION(4) */ t SET name = 'h1' WHERE id = 1")
    assert(rows(e, "SELECT name FROM t WHERE id = 1") === Seq(Row("h1")))
    e.sql("BEGIN")
    e.sql("UPDATE t SET name = 'h2' WHERE id = 1")
    e.sql("COMMIT /*+ irrelevant */") // must still be a COMMIT
    assert(rows(e, "SELECT name FROM t WHERE id = 1") === Seq(Row("h2")))
    // a hint right after a regular comment is still preserved for Catalyst
    graft.sql.StatementRouter.parse(
      "SELECT /* note *//*+ BROADCAST(t) */ * FROM t") match {
      case graft.sql.Statement.Select(q) =>
        assert(q.contains("/*+ BROADCAST(t) */") && !q.contains("note"))
      case other => fail(s"expected Select, got $other")
    }
    // unterminated backtick raises clearly in parameterized statements
    intercept[IllegalArgumentException] {
      e.sql("SELECT `name FROM t WHERE id = $1", Seq(5))
    }
  }

  test("for system_time between returns the change stream") {
    val e = seeded()
    e.sql("UPDATE t SET val = 9 WHERE id = 1") // seq 4
    e.sql("DELETE FROM t WHERE id = 2") // seq 5
    val got = rows(e,
      "SELECT sequence, event_type FROM t FOR SYSTEM_TIME BETWEEN 4 AND 5 ORDER BY sequence")
    assert(got === Seq(Row(4L, "PATCH"), Row(5L, "SOFT_DELETE")))
  }

  test("dotted names are flat identifiers end to end") {
    // the reference flattens ObjectName.to_string(): "app.t" IS the
    // table name, dot included (sql_bridge.rs:3665) — the binder joins
    // a parsed multipart reference's parts with '.' to look it up, so
    // the name needs no mangling
    val e = fresh()
    e.sql("CREATE TABLE app.t (pk BIGINT PRIMARY KEY, g BIGINT, v BIGINT)")
    e.sql("INSERT INTO app.t VALUES (1, 1, 10), (2, 1, 20), (3, 2, 30)")
    assert(rows(e, "SELECT g, SUM(v) AS sv FROM app.t GROUP BY g ORDER BY g")
      === Seq(Row(1L, 30L), Row(2L, 30L)))
    // a dotted name inside a string literal is data, never rewritten
    assert(rows(e, "SELECT 'app.t' AS n FROM app.t WHERE pk = 1")
      === Seq(Row("app.t")))
    // temporal reads resolve through the same binding
    assert(rows(e,
      "SELECT pk FROM app.t FOR SYSTEM_TIME AS OF @SEQ:2 ORDER BY pk")
      === Seq(Row(1L), Row(2L)))
    // dotted matview: create, read, incremental refresh, AUTOREFRESH
    // toggle (the ALTER grammar accepts dotted names)
    e.sql("CREATE MATERIALIZED VIEW app.mv AS " +
      "SELECT g, COUNT(*) AS n FROM app.t GROUP BY g")
    e.sql("INSERT INTO app.t VALUES (4, 2, 40)")
    e.sql("REFRESH MATERIALIZED VIEW app.mv INCREMENTALLY")
    assert(rows(e, "SELECT g, n FROM app.mv ORDER BY g")
      === Seq(Row(1L, 2L), Row(2L, 2L)))
    e.sql("ALTER MATERIALIZED VIEW app.mv SET AUTOREFRESH ON")
    e.sql("INSERT INTO app.t VALUES (5, 3, 50)")
    assert(rows(e, "SELECT n FROM app.mv WHERE g = 3") === Seq(Row(1L)))
  }

  test("dotted names that collide under dot->underscore stay distinct") {
    // "a.b_c" and "a_b.c" both mangle to a_b_c under a naive
    // dot->underscore map — the injective temp-name digest keeps each
    // registration reading its own data
    val e = fresh()
    e.sql("CREATE TABLE a.b_c (pk BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("CREATE TABLE a_b.c (pk BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("INSERT INTO a.b_c VALUES (1, 100)")
    e.sql("INSERT INTO a_b.c VALUES (1, 200)")
    assert(rows(e, "SELECT v FROM a.b_c") === Seq(Row(100L)))
    assert(rows(e, "SELECT v FROM a_b.c") === Seq(Row(200L)))
    assert(rows(e,
      "SELECT x.v AS xv, y.v AS yv FROM a.b_c x JOIN a_b.c y ON x.pk = y.pk")
      === Seq(Row(100L, 200L)))
    e.close()
  }

  test("AUTOREFRESH ON refuses an aux-backed view whose aux frames are absent") {
    // a stored MIN/MAX view from before exact retraction has no
    // _graft_aux_* dirs: flagging it would let the FIRST auto refresh
    // fail and mute — the ALTER must fail fast with the prescription
    val e = fresh()
    e.sql("CREATE TABLE at (pk BIGINT PRIMARY KEY, g BIGINT, v BIGINT)")
    e.sql("INSERT INTO at VALUES (1, 1, 10)")
    e.sql("CREATE MATERIALIZED VIEW amv AS " +
      "SELECT g, MIN(v) AS lo, COUNT(*) AS n FROM at GROUP BY g")
    // simulate the older stored layout: drop the bucketed-store
    // manifest (round 18 layout) AND the store itself on disk — a
    // legacy monolithic _graft_aux_ dir would also satisfy the gate,
    // so none may remain either
    val ver = new java.io.File(s"${e.baseDir}/matviews/amv")
      .listFiles.filter(_.getName.startsWith("v=")).maxBy(_.getName)
    val manifest = new java.io.File(ver,
      graft.sql.IncrementalView.auxManifestFile("lo"))
    assert(manifest.exists)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(manifest)
    rm(new java.io.File(s"${e.baseDir}/matviews/amv/auxstore_lo"))
    val err = intercept[IllegalStateException] {
      e.sql("ALTER MATERIALIZED VIEW amv SET AUTOREFRESH ON")
    }
    assert(err.getMessage.contains("aux frames"), err.getMessage)
    // the prescription works: full REFRESH rebuilds, ALTER passes
    e.sql("REFRESH MATERIALIZED VIEW amv")
    e.sql("ALTER MATERIALIZED VIEW amv SET AUTOREFRESH ON")
    e.sql("INSERT INTO at VALUES (2, 1, 3)")
    assert(rows(e, "SELECT lo FROM amv WHERE g = 1") === Seq(Row(3L)))
    e.close()
  }

  test("matview HAVING with trailing ORDER BY falls back to full rerun") {
    // ShapeRe's optional HAVING capture runs to end-of-statement, so
    // "HAVING sv > 15 ORDER BY g" is not a parseable predicate — the
    // shape rejects it and the view serves correctly via full rerun
    val e = fresh()
    e.sql("CREATE TABLE b (pk BIGINT PRIMARY KEY, g BIGINT, v BIGINT)")
    e.sql("INSERT INTO b VALUES (1, 1, 10), (2, 1, 20), (3, 2, 30)")
    e.sql("CREATE MATERIALIZED VIEW hv AS " +
      "SELECT g, SUM(v) AS sv FROM b GROUP BY g HAVING sv > 15 ORDER BY g")
    assert(rows(e, "SELECT g, sv FROM hv ORDER BY g")
      === Seq(Row(1L, 30L), Row(2L, 30L)))
    intercept[IllegalArgumentException] {
      e.sql("REFRESH MATERIALIZED VIEW hv INCREMENTALLY")
    }
    val kind = e.sql("SHOW MATERIALIZED VIEWS")
      .where("name = 'hv'").collect().head.getString(2)
    assert(kind === "full_rerun")
  }

  test("driver-side parquet staging is indistinguishable from the job write") {
    // writeLocalParquet hand-mirrors the session's parquet confs into
    // a driver-side writer; this round-trip pins the two write paths
    // byte-equivalent at every level a reader can observe — footer
    // schema, spark row metadata, per-column codec and bloom-filter
    // presence, and the decoded rows — so a future Spark conf that
    // changes parquet encoding breaks THIS test, not read parity in
    // production.
    import org.apache.spark.sql.functions.{col, struct}
    import scala.jdk.CollectionConverters._
    val sqlc = spark.implicits
    import sqlc._
    val df = Seq(
      (1L, "INSERT", 1L, "alpha", 10.5),
      (2L, "INSERT", 2L, "beta", 20.25),
      (3L, "INSERT", 3L, null.asInstanceOf[String], 30.125))
      .toDF("sequence", "event_type", "k", "name", "v")
      .select(col("sequence"), col("event_type"),
        struct(col("k"), col("name"), col("v")).as("payload"))
    val opts = Map("parquet.bloom.filter.enabled#payload.k" -> "true")
    val dirA = java.nio.file.Files.createTempDirectory("graft-drvw-").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-jobw-").toString
    assert(org.apache.spark.sql.GraftBridge.writeLocalParquet(df, dirA, opts).isDefined,
      "the literal batch must take the driver write")
    df.coalesce(1).write.options(opts).mode("overwrite").parquet(dirB)
    def part(d: String): org.apache.hadoop.fs.Path = {
      val f = new java.io.File(d).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      assert(f.length === 1, s"expected one part file in $d")
      new org.apache.hadoop.fs.Path(f.head.getPath)
    }
    // observable footer state: schema, spark row metadata, and each
    // column chunk's codec / encodings / bloom presence
    def footer(p: org.apache.hadoop.fs.Path)
        : (String, Option[String], Seq[(String, String, String, Boolean)]) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val md = r.getFooter.getFileMetaData
        val cols = r.getFooter.getBlocks.asScala.toSeq.flatMap(
          _.getColumns.asScala.toSeq.map(c =>
            (c.getPath.toDotString, c.getCodec.toString,
              c.getEncodings.asScala.map(_.toString).toSeq.sorted
                .mkString(","),
              c.getBloomFilterOffset >= 0)))
        (md.getSchema.toString,
          Option(md.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")),
          cols)
      } finally r.close()
    }
    val (schemaA, metaA, colsA) = footer(part(dirA))
    val (schemaB, metaB, colsB) = footer(part(dirB))
    assert(schemaA === schemaB)
    assert(metaA.isDefined && metaA === metaB)
    assert(colsA === colsB)
    // the bloom actually exists on the stamped column in BOTH files
    assert(colsA.exists { case (path, _, _, bloom) =>
      path == "payload.k" && bloom })
    // decoded rows and read schema agree
    val a = spark.read.parquet(dirA)
    val b = spark.read.parquet(dirB)
    assert(a.schema === b.schema)
    assert(a.collect().map(_.toString).sorted.toSeq ===
      b.collect().map(_.toString).sorted.toSeq)
  }

  private def subqueryPair(): QueryEngine = {
    val e = fresh()
    e.sql("CREATE TABLE sub_a (id BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("CREATE TABLE sub_b (id BIGINT PRIMARY KEY)")
    e.sql("INSERT INTO sub_a VALUES (1, 0), (2, 0), (3, 0)")
    e.sql("INSERT INTO sub_b VALUES (1)")
    e
  }

  test("a DML subquery reads a table no SELECT has read yet") {
    val e = subqueryPair()
    e.sql("UPDATE sub_a SET v = 1 WHERE id IN (SELECT id FROM sub_b)")
    assert(rows(e, "SELECT id, v FROM sub_a ORDER BY id")
      === Seq(Row(1L, 1L), Row(2L, 0L), Row(3L, 0L)))
    // SET and DELETE subqueries read the same way
    e.sql("UPDATE sub_a SET v = (SELECT MAX(id) FROM sub_b) + 10 WHERE id = 3")
    e.sql("DELETE FROM sub_a WHERE id IN (SELECT id FROM sub_b)")
    assert(rows(e, "SELECT id, v FROM sub_a ORDER BY id")
      === Seq(Row(2L, 0L), Row(3L, 11L)))
    e.close()
  }

  test("a DML subquery reads current state after a SELECT and an INSERT") {
    val e = subqueryPair()
    assert(rows(e, "SELECT id FROM sub_b") === Seq(Row(1L)))
    e.sql("INSERT INTO sub_b VALUES (2)")
    e.sql("UPDATE sub_a SET v = 2 WHERE id IN (SELECT id FROM sub_b)")
    assert(rows(e, "SELECT id, v FROM sub_a ORDER BY id")
      === Seq(Row(1L, 2L), Row(2L, 2L), Row(3L, 0L)))
    e.close()
  }

  test("a WITH name shadows an engine table of the same name") {
    val e = seeded()
    assert(rows(e, "WITH t AS (SELECT 42L AS id) SELECT id FROM t") === Seq(Row(42L)))
    // a non-recursive CTE's own body still reads the engine table
    assert(rows(e,
      "WITH t AS (SELECT id FROM t WHERE id > 1) SELECT COUNT(*) AS n FROM t")
      === Seq(Row(2L)))
    // a later CTE sees an earlier one; a subquery sees the enclosing WITH
    assert(rows(e,
      """WITH t AS (SELECT 7L AS id), u AS (SELECT id FROM t)
        |SELECT id FROM u WHERE id IN (SELECT id FROM t)""".stripMargin)
      === Seq(Row(7L)))
    e.close()
  }
}
