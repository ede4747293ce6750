package graft
import graft.exec.QueryEngine
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement helper: replay the five-table join
  * view scenario (churn, then an incremental refresh) statement by
  * statement with wall timing and the engine's own trace spans, to
  * locate the per-statement floor. The streaming near-dup batch is
  * measured by perfbench (`curation --trace 1`) instead. Not part of
  * the driver contract. */
object StmtProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // job/stage/task counters to decompose statement floors
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks.toLong)
        }
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      })
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable => System.err.println(s"warmup: ${e.getMessage}") }

    val join5 = Seq(
      "CREATE TABLE r5 (r BIGINT PRIMARY KEY, zone STRING)",
      "CREATE TABLE n5 (n BIGINT PRIMARY KEY, rk BIGINT, seg STRING)",
      "CREATE TABLE c5 (c BIGINT PRIMARY KEY, nk BIGINT)",
      "CREATE TABLE o5 (o BIGINT PRIMARY KEY, ck BIGINT)",
      "CREATE TABLE l5 (l BIGINT PRIMARY KEY, ok BIGINT, v BIGINT)",
      "INSERT INTO r5 SELECT r_regionkey, r_name FROM region",
      """INSERT INTO n5
        |SELECT n_nationkey, n_regionkey,
        |       'g' || CAST(n_nationkey % 3 AS STRING)
        |FROM nation""".stripMargin,
      """INSERT INTO c5
        |SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_custkey < 300""".stripMargin,
      """INSERT INTO o5
        |SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey < 2000 AND o_custkey < 300""".stripMargin,
      """INSERT INTO l5
        |SELECT l_orderkey * 10 + l_linenumber, l_orderkey,
        |       SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
        |FROM lineitem WHERE l_orderkey < 2000
        |GROUP BY l_orderkey, l_linenumber""".stripMargin,
      """CREATE MATERIALIZED VIEW j5v AS
        |SELECT zone, seg, COUNT(*) AS n, SUM(v) AS sv
        |FROM r5 JOIN n5 ON r5.r = n5.rk
        |JOIN c5 ON n5.n = c5.nk
        |JOIN o5 ON c5.c = o5.ck
        |JOIN l5 ON o5.o = l5.ok
        |GROUP BY zone, seg""".stripMargin,
      """INSERT INTO c5
        |SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_custkey BETWEEN 1000 AND 1099""".stripMargin,
      """INSERT INTO o5
        |SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey < 2000
        |  AND o_custkey BETWEEN 1000 AND 1099""".stripMargin,
      "UPDATE r5 SET zone = 'zz' WHERE r = 2",
      "UPDATE n5 SET rk = (rk + 1) % 5, seg = 'gx' WHERE n % 5 = 0",
      "DELETE FROM c5 WHERE c % 13 = 0",
      "DELETE FROM o5 WHERE o % 17 = 0",
      "UPDATE l5 SET v = v + 7 WHERE l % 11 = 0",
      "DELETE FROM l5 WHERE l % 19 = 0",
      "REFRESH MATERIALIZED VIEW j5v INCREMENTALLY",
      "SELECT zone, seg, n, sv FROM j5v ORDER BY zone, seg")

    for (rep <- 1 to reps) {
      val e = QueryEngine.scratch(spark)
      e.attachExternal("region", s"$sfDir/region.parquet")
      e.attachExternal("nation", s"$sfDir/nation.parquet")
      e.attachExternal("customer", s"$sfDir/customer.parquet")
      e.attachExternal("orders", s"$sfDir/orders.parquet")
      e.attachExternal("lineitem", s"$sfDir/lineitem.parquet")
      e.sql("SET TRACE ON")
      val t00 = System.nanoTime()
      for (st <- join5) {
        val (j0, s0, k0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val t0 = System.nanoTime()
        val df = e.sql(st)
        if (st.trim.toUpperCase.startsWith("SELECT")) df.count()
        val dt = (System.nanoTime() - t0) / 1e6
        println(f"[stmt] $dt%8.0f ms  j=${jobs.get - j0}%3d st=${stages.get - s0}%3d tk=${tasks.get - k0}%5d tkms=${taskMs.get - m0}%6d  ${st.linesIterator.next().take(60)}")
      }
      println(f"[stmt] TOTAL ${(System.nanoTime() - t00) / 1e9}%.2f s (rep $rep)")
      if (rep == reps) {
        // span dump of the most recent traces: refresh + one UPDATE
        val traces = e.sql("SHOW TRACES").collect()
        traces.foreach(r => println(s"[traces] $r"))
        val interesting = traces.toSeq.filter { r =>
          val st = r.getString(1).toUpperCase
          st.startsWith("REFRESH") || st.startsWith("UPDATE") ||
            st.startsWith("DELETE")
        }
        for (tid <- interesting.map(_.getLong(0))) {
          println(s"=== trace $tid")
          e.sql(s"SHOW TRACE $tid").collect().foreach { r =>
            println(f"[span] ${r.toSeq.mkString(" | ")}")
          }
        }
      }
      e.close()
      Pins.sweep(spark)
    }
    spark.stop()
  }
}
