package graft.exec

import graft.{GroupJobs, TestSpark}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions.{col, md5}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budgets of every write entry point: one statement or
  * stream batch against a 40-row table, counted by a listener on its
  * own job group. The budgets are the counts the engine ran when COPY,
  * UPDATE and the stream publishes still had their own write paths
  * (local[4], four shuffle partitions), except two kinds of UPDATE.
  * The pk-changing UPDATE ran 8 there, then 4 once it shared INSERT's
  * pk probes, which settle a literal batch's duplicates on the driver
  * and inline its keys into the collision probe; since those probes
  * and its matched batch read the pk on the driver it runs 0, and its
  * budget was tightened to that measured count. PATCH UPDATE
  * and DELETE by pk ran 2 (the keyed-collapse pin of the matched batch)
  * and run 0 since a matched batch of at most one row over the
  * driver-held tail folds to a LocalRelation. The shared path must not
  * exceed them.
  *
  * A second fixture carries every guard kind at once: a child table
  * with an FK, a single-column UNIQUE and a CHECK, under a parent its
  * FK references. Its budgets were measured before the guards moved
  * into one module (4, 6, 3, 0 and 5 jobs in the order below) and were
  * tightened where the move lowered them: a literal batch's UNIQUE
  * clash became an inlined IN-list over the survivors, like the pk's,
  * so it folds with them instead of broadcasting the batch into a semi
  * join. UPDATE's RESTRICT later got DELETE's inline-key path (the
  * matched keys filter the survivors and the child read), so moving an
  * unreferenced parent key went from 5 jobs to 0. */
class WriteBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Jobs `body` runs, counted by a listener on its own job group. */
  private def jobs(body: => Unit): Int = {
    val g = GroupJobs(spark, "write-budget")
    val sc = spark.sparkContext
    sc.setJobGroup(g.group, "write budget")
    try body finally sc.clearJobGroup()
    g.sync()
    g.close()
    g.started.size
  }

  private def one(e: QueryEngine, q: String): Long =
    e.sql(q).collect().head.getLong(0)

  /** A fresh engine with `t` (40 rows, k 1..40) and the stream-dedup
    * pair `docs`/`seen`, one warm statement already run. */
  private def fresh(): QueryEngine = {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
    e.sql("INSERT INTO t SELECT id, concat('g', CAST(id % 4 AS STRING)), " +
      "id * 3 FROM range(1, 41)")
    e.sql("CREATE TABLE docs (doc_id BIGINT PRIMARY KEY, text STRING)")
    e.sql("CREATE TABLE seen (fp STRING PRIMARY KEY, doc_id BIGINT)")
    e.sql("UPDATE t SET v = v + 1 WHERE k = 1")
    e
  }

  private lazy val jsonl = {
    val f = java.nio.file.Files.createTempFile("graft-budget", ".jsonl")
    java.nio.file.Files.writeString(f,
      """{"k": 300, "grp": "j1", "v": 5}
        |{"k": 301, "grp": "j2"}
        |""".stripMargin)
    f.toString
  }

  /** (entry point, budget, the counted write, the check after it). */
  private val cases: Seq[(String, Int, QueryEngine => Unit, QueryEngine => Unit)] = {
    import spark.implicits._
    Seq(
      ("INSERT VALUES", 0,
        e => e.sql("INSERT INTO t VALUES (100, 'g1', 7)").collect(),
        e => assert(one(e, "SELECT v FROM t WHERE k = 100") === 7L)),
      ("INSERT ... SELECT", 1,
        e => e.sql("INSERT INTO t SELECT id + 200, 'g2', id FROM range(1, 21)")
          .collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM t") === 60L)),
      ("PATCH UPDATE", 0,
        e => e.sql("UPDATE t SET v = 0 WHERE k = 5").collect(),
        e => assert(one(e, "SELECT v FROM t WHERE k = 5") === 0L)),
      ("pk-changing UPDATE", 0,
        e => e.sql("UPDATE t SET k = 500 WHERE k = 6").collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM t WHERE k IN (6, 500)") === 1L)),
      ("DELETE", 0,
        e => e.sql("DELETE FROM t WHERE k = 7").collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM t") === 39L)),
      ("COPY FROM", 2,
        e => e.sql(s"COPY t FROM '$jsonl'").collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM t WHERE k >= 300") === 2L)),
      ("literal ingestStream batch", 0,
        e => e.ingestStream("t", Seq((400L, "s", 1L)).toDF("k", "grp", "v")),
        e => assert(one(e, "SELECT v FROM t WHERE k = 400") === 1L)),
      ("ingestStreamDeduped batch", 8,
        e => StreamingDedup.ingestDeduped(e, "docs", "seen",
          Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text"),
          md5(col("text")), None, -1L),
        e => assert(one(e, "SELECT COUNT(*) FROM docs") === 2L)))
  }

  /** A fresh engine with the guard-heavy pair: `dept` (10 rows, id
    * 1..10) and `emp` (40 rows), whose `dept_id` references `dept(id)`
    * (rows 1..5 are referenced, 6..10 are not), with a single-column
    * UNIQUE `email` and a CHECK on `sal`; a warm UPDATE and DELETE
    * already run. */
  private def guarded(): QueryEngine = {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE dept (id BIGINT PRIMARY KEY, name STRING)")
    e.sql("INSERT INTO dept SELECT id, concat('d', CAST(id AS STRING)) " +
      "FROM range(1, 11)")
    e.sql("CREATE TABLE emp (id BIGINT PRIMARY KEY, " +
      "dept_id BIGINT REFERENCES dept(id), email STRING UNIQUE, " +
      "sal BIGINT CHECK (sal >= 0))")
    e.sql("INSERT INTO emp SELECT id, id % 5 + 1, " +
      "concat('e', CAST(id AS STRING)), id * 100 FROM range(1, 41)")
    e.sql("UPDATE emp SET sal = sal + 1 WHERE id = 1")
    e.sql("DELETE FROM dept WHERE id = 10")
    e
  }

  private val guardCases: Seq[(String, Int, QueryEngine => Unit, QueryEngine => Unit)] =
    Seq(
      ("guarded literal INSERT", 2,
        e => e.sql("INSERT INTO emp VALUES (100, 2, 'x100', 5)").collect(),
        e => assert(one(e, "SELECT sal FROM emp WHERE id = 100") === 5L)),
      ("guarded INSERT ... SELECT", 4,
        e => e.sql("INSERT INTO emp SELECT id + 200, id % 3 + 1, " +
          "concat('s', CAST(id AS STRING)), id FROM range(1, 21)").collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM emp") === 60L)),
      ("UPDATE of a UNIQUE column", 0,
        e => e.sql("UPDATE emp SET email = 'new5' WHERE id = 5").collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM emp WHERE email = 'new5'") === 1L)),
      ("DELETE of an unreferenced parent row", 0,
        e => e.sql("DELETE FROM dept WHERE id = 9").collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM dept") === 8L)),
      ("UPDATE moving an unreferenced parent key", 0,
        e => e.sql("UPDATE dept SET id = 50 WHERE id = 8").collect(),
        e => assert(one(e, "SELECT COUNT(*) FROM dept WHERE id IN (8, 50)") === 1L)))

  for ((fixture, cs) <- Seq((() => fresh(), cases), (() => guarded(), guardCases));
       (name, budget, write, check) <- cs)
    test(s"$name stays within its job budget") {
      val e = fixture()
      try {
        val n = jobs(write(e))
        check(e)
        assert(n <= budget, s"$name ran $n jobs")
        info(s"$name ran $n jobs")
      } finally e.close()
    }
}
