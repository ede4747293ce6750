package graft.exec

import graft.{GroupJobs, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budgets of single-table incremental refreshes. Each view
  * is refreshed once to warm the shape, then refreshed again after one
  * statement of churn; the second refresh's job count must stay at or
  * under the recorded budget, and the view must still equal a fresh
  * run of its query. The budgets are the counts the engine ran when
  * single-table views still had their own refresh path (local[4],
  * four shuffle partitions); the one-table join chain must not exceed
  * them. */
class RefreshBudgetSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Jobs `body` runs, counted by a listener on its own job group. */
  private def jobs(body: => Unit): Int = {
    val g = GroupJobs(spark, "refresh-budget")
    val sc = spark.sparkContext
    sc.setJobGroup(g.group, "refresh budget")
    try body finally sc.clearJobGroup()
    g.sync()
    g.close()
    g.started.size
  }

  private def rows(e: QueryEngine, q: String): Seq[String] =
    e.sql(q).collect().map(_.toString).toSeq.sorted

  /** One table of 40 rows over four groups, the view over it, a warm
    * refresh, then `churn` and the counted refresh. The view's columns
    * must then equal `fresh` (default: the view's own query) over the
    * current table. Returns the counted refresh's jobs. */
  private def refreshJobs(view: String, churn: String,
      fresh: Option[String] = None): Int = {
    val e = QueryEngine.scratch(spark)
    try {
      e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, grp STRING, v BIGINT)")
      e.sql("INSERT INTO t SELECT id, concat('g', CAST(id % 4 AS STRING)), " +
        "id * 3 FROM range(1, 41)")
      e.sql(s"CREATE MATERIALIZED VIEW mv AS $view")
      e.sql("INSERT INTO t VALUES (100, 'g1', 7)")
      e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY")
      e.sql(churn)
      val n = jobs(e.sql("REFRESH MATERIALIZED VIEW mv INCREMENTALLY"))
      val cols = view.replaceAll("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM.*$", "$1")
        .split(",").map(_.trim.split("\\s+").last).mkString(", ")
      assert(rows(e, s"SELECT $cols FROM mv") ===
        rows(e, fresh.getOrElse(view)), view)
      n
    } finally e.close()
  }

  test("COUNT/SUM view after a one-row UPDATE stays within its job budget") {
    val n = refreshJobs(
      "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM t GROUP BY grp",
      "UPDATE t SET v = v + 1 WHERE k = 5")
    assert(n <= 10, s"$n jobs")
  }

  test("MIN/MAX view after a pre-horizon retraction stays within its job budget") {
    val n = refreshJobs(
      "SELECT grp, MIN(v) AS lo, MAX(v) AS hi FROM t GROUP BY grp",
      "DELETE FROM t WHERE k = 4")
    assert(n <= 25, s"$n jobs")
  }

  test("APPROX_COUNT_DISTINCT view after a retraction stays within its job budget") {
    val n = refreshJobs(
      "SELECT grp, APPROX_COUNT_DISTINCT(v) AS d FROM t GROUP BY grp",
      "DELETE FROM t WHERE k = 6",
      Some("SELECT grp, COUNT(DISTINCT v) AS d FROM t GROUP BY grp"))
    assert(n <= 15, s"$n jobs")
  }
}
