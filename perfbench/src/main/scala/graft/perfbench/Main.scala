package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Workload runner, one workload per JVM:
  *
  * {{{
  * Main --workload oltp|curation --seed N --seconds S --trace 0|1
  *      --data DIR --work DIR --out FILE [--cores N]
  * }}}
  *
  * Inputs under `--data` are generated from the seed beforehand by
  * `perfbench/run.py`; the engine receives only those files and the
  * statements generated here. The raw results go to `--out` as JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = opt("work")
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val report = new Report
    report.setup("session_s") = (System.nanoTime() - t0) / 1e9
    report.detail("spark_version") = spark.version
    report.detail("cores") = cores
    report.detail("max_heap_mb") = Jvm.maxHeapMb
    val ctx = Ctx(spark, ledger, cores, opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1", opt("data"), work, report)
    try opt("workload") match {
      case "oltp" => new Oltp(ctx).run()
      case "curation" => new Curation(ctx).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), report.toJson)
      spark.stop()
    }
  }
}
