package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row
import scala.collection.mutable

/** Training-data curation operators through `SparkEntry.queries` over
  * a generated corpus: streaming near-dup ingest, shingle Jaccard
  * pairs and a PCA covariance. Passes over the queries repeat for the
  * run after untimed warm-up passes; each pass's output must equal the
  * first timed pass's, and that output is compared with each query's
  * DuckDB oracle by the front end. */
final class Curation(c: Ctx) {
  import Curation._
  private val r = c.report
  private val spark = c.spark

  private def runQuery(name: String): (Seq[Row], Seq[String], Boolean) =
    try {
      val df = SparkEntry.queries(name)(spark, c.dataDir)
      (df.collect().toSeq, df.schema.fieldNames.toSeq, true)
    } catch {
      case e: Exception =>
        r.note(s"$name: ${e.getMessage}")
        (Seq.empty, Seq.empty, false)
    }

  private def canonical(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("\u0001")).sorted

  def run(): Unit = {
    // set-up: untimed passes compile every query's plans and warm the JIT
    val t0 = System.nanoTime()
    for (_ <- 1 to WarmupPasses; q <- Queries) { runQuery(q); graft.Pins.sweep(spark) }
    r.setup("warmup_s") = (System.nanoTime() - t0) / 1e9

    val first = mutable.Map.empty[String, Seq[String]]
    val outDir = java.nio.file.Paths.get(c.workDir, "outputs")
    java.nio.file.Files.createDirectories(outDir)
    val sums = Queries.map(q => q -> new Sums).toMap
    r.setupDone()
    val ph = c.phase().start()
    val end = System.nanoTime() + (c.seconds * 1e9).toLong
    var pass = 0
    // At least three passes, so every run compares repeated outputs and
    // takes a real median; more while another one still fits in the
    // run's seconds. A traced run traces its second pass and compares
    // it with the passes around it, so warm-up drift cancels.
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    while (pass < MinPasses ||
        System.nanoTime() + r.units.last * 1e9 <= end) {
      val tracing = c.trace && pass == 1
      var passMs = 0.0
      for (q <- Queries) {
        val ((rows, cols, ok), sp, ms) =
          if (tracing) c.measured(runQuery(q))
          else {
            val t = System.nanoTime()
            val out = runQuery(q)
            (out, Ledger.Zero, (System.nanoTime() - t) / 1e6)
          }
        graft.Pins.sweep(spark)
        passMs += ms
        r.sample(q, ms)
        r.op(ok, q)
        if (tracing) {
          val s = sums(q)
          s.n += 1
          s.add("wall_ms", ms)
          sp.byName.foreach { case (k, v) => s.add(k, v.toDouble) }
        }
        if (ok) {
          val canon = canonical(rows)
          first.get(q) match {
            case None =>
              first(q) = canon
              val body = Report.json(Map("columns" -> cols,
                "rows" -> rows.map(_.toSeq.map(plain))))
              java.nio.file.Files.writeString(outDir.resolve(s"$q.json"), body)
            case Some(want) =>
              r.check(canon == want, s"$q pass $pass output differs from pass 0")
          }
        }
      }
      r.units += passMs / 1e3
      r.loadOps += Queries.size
      r.loadSeconds += passMs / 1e3
      (if (tracing) traced else untraced) += passMs
      pass += 1
    }
    ph.stop()
    r.detail("passes") = pass
    r.detail("outputs") = outDir.toString
    r.detail("oracle") = Queries.map(q => q -> SparkEntry.oracleSql.get(q)).toMap
    if (c.trace) {
      r.layers("trace.untraced_unit_ms") = untraced
      r.layers("trace.traced_unit_ms") = traced
      for ((q, s) <- sums) r.layers(s"queries.$q") = Map(
        "wall_s" -> s.mean("wall_ms") / 1e3,
        "task_ms" -> s.mean("spark.task_ms"),
        "shuffle_records" -> s.mean("spark.shuffle_records"),
        "jobs" -> s.mean("spark.jobs"))
      val n = sums.values.map(_.n).sum.max(1L)
      val per = Ledger.Names.map(k => k -> sums.values.map(_.total(k)).sum / n).toMap
      val wall = sums.values.map(_.total("wall_ms")).sum
      r.layers("universal") = per ++ Map(
        "spark.core_busy" -> per("spark.task_ms") * n / (wall * c.cores),
        "jvm.gc_ms" -> ph.gcMs.toDouble, "jvm.heap_peak_mb" -> ph.heapPeakMb)
    }
  }

  /** Output cells as JSON-friendly values. */
  private def plain(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => t.toString
    case other => other
  }
}

object Curation {
  val WarmupPasses = 2
  val MinPasses = 3

  /** Streaming near-dup and batch shingle Jaccard (the inverted-index
    * self-join) and the PCA covariance (task-bound, one stats pass). */
  val Queries: Seq[String] = Seq("q_stream_neardup", "q_shingle_jaccard",
    "q_pca_cov")
}
