package graft.exec

import graft.{GroupJobs, TestSpark}
import org.apache.spark.sql.functions.{col, md5}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budgets of every write entry point: one statement or
  * stream batch against a 40-row table, counted by a listener on its
  * own job group. The budgets are the counts the engine ran when COPY,
  * UPDATE and the stream publishes still had their own write paths
  * (local[4], four shuffle partitions), except two kinds of UPDATE.
  * The pk-changing UPDATE ran 8 there and runs 4 since it shares
  * INSERT's pk probes, which settle a literal batch's duplicates on the
  * driver and inline its keys into the collision probe. PATCH UPDATE
  * and DELETE by pk ran 2 (the keyed-collapse pin of the matched batch)
  * and run 0 since a matched batch of at most one row over the
  * driver-held tail folds to a LocalRelation. The shared path must not
  * exceed them. */
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
      ("pk-changing UPDATE", 4,
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
        e => e.ingestStreamDeduped("docs", "seen",
          Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text"),
          md5(col("text")), None, -1L),
        e => assert(one(e, "SELECT COUNT(*) FROM docs") === 2L)))
  }

  for ((name, budget, write, check) <- cases)
    test(s"$name stays within its job budget") {
      val e = fresh()
      try {
        val n = jobs(write(e))
        check(e)
        assert(n <= budget, s"$name ran $n jobs")
      } finally e.close()
    }
}
