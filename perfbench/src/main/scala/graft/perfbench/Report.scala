package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.exec.Tracer
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything one run hands to the Python front end: raw latency
  * samples, the timed phase's op counts, output-check tallies and the
  * per-layer figures. Percentiles and the final metric line are
  * computed from these on the Python side. */
final class Report {
  val setup = mutable.LinkedHashMap.empty[String, Any]
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Wall seconds of each work unit (one solo round or query pass) in
    * the timed phase. */
  val units = mutable.ArrayBuffer.empty[Double]
  var loadOps = 0L
  var loadSeconds = 0.0
  var ops = 0L
  var opErrors = 0L
  var checks = 0L
  var checkFailed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  /** Workload-specific end-to-end figures (per-op p50 sample sets live
    * in `lat`; these are the ratios and totals). */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Any]

  /** Ends set-up: the time from JVM start until now is the run's
    * set-up time (session, inputs, engine, load, warm-up). */
  def setupDone(): Unit =
    setup("total_s") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def sample(kind: String, ms: Double): Unit = synchronized {
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }

  def note(s: String): Unit = synchronized { if (notes.size < 30) notes += s.take(300) }

  /** One timed operation's outcome. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    ops += 1
    if (!ok) { opErrors += 1; note(s"op failed: $what") }
  }

  /** One output check: every check counts as attempted, a failed one
    * as failed. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    checks += 1
    if (!ok) { checkFailed += 1; note(s"check failed: $what") }
  }

  def toJson: String = Report.json(Map(
    "setup" -> setup, "lat" -> lat, "units" -> units,
    "load_ops" -> loadOps, "load_seconds" -> loadSeconds,
    "ops" -> ops, "op_errors" -> opErrors,
    "checks" -> checks, "check_failed" -> checkFailed, "notes" -> notes,
    "detail" -> detail, "layers" -> layers))
}

object Report {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)
}

/** What every workload gets: the session, its counters, the run
  * parameters and the report to fill. */
final case class Ctx(spark: SparkSession, ledger: Ledger, cores: Int,
    seed: Long, seconds: Double, trace: Boolean, dataDir: String,
    workDir: String, report: Report) {
  def phase(): Phase = new Phase(ledger, spark.sparkContext)

  /** Spark work of `body`, drained so its last tasks are counted. */
  def measured[T](body: => T): (T, Ledger.Snap, Double) = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val s0 = ledger.snap()
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    (r, ledger.snap() - s0, ms)
  }
}

/** Reads the engine's own statement traces (the data behind SHOW
  * TRACES / SHOW TRACE) as they complete. The tracer keeps only its
  * newest 64 traces, so callers drain often; traces that fell out of
  * the ring between two drains are counted in `lost`.
  *
  * Trace ids are only handed out while tracing is on, and `SET TRACE
  * OFF` takes one for itself and then empties the ring, so the first
  * trace after [[skip]] is the baseline for gap counting rather than
  * whatever id was seen last. */
final class TraceReader(tracer: Tracer) {
  private var last = 0L
  private var rebase = true
  var lost = 0L

  def drain(): Seq[Tracer#Trace] = {
    val fresh = tracer.traces.filter(_.traceId > last).reverse
    fresh.headOption.foreach { t =>
      if (!rebase) lost += math.max(0L, t.traceId - last - 1)
      rebase = false
    }
    fresh.lastOption.foreach(t => last = t.traceId)
    fresh
  }

  /** Skip everything recorded so far; call it right after turning
    * tracing on. */
  def skip(): Unit = { drain(); rebase = true }
}

object Spans {
  /** Time per span name within one trace; a span nested inside a span
    * of the same name is already covered by it and is not added. */
  def byName(t: Tracer#Trace): Map[String, Double] = {
    val byId = t.spans.map(s => s.spanId -> s).toMap
    def nestedInSame(s: Tracer#SpanRow): Boolean = {
      var p = byId.get(s.parentId)
      while (p.isDefined) {
        if (p.get.name == s.name) return true
        p = byId.get(p.get.parentId)
      }
      false
    }
    t.spans.filterNot(nestedInSame).groupMapReduce(_.name)(_.durMs)(_ + _)
  }
}

/** Running sums of named values and how many operations contributed,
  * reported as per-operation means. */
final class Sums {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  var n = 0L
  def add(name: String, v: Double): Unit = m(name) = m.getOrElse(name, 0.0) + v
  def addAll(vs: Map[String, Double]): Unit = vs.foreach { case (k, v) => add(k, v) }
  def mean(name: String): Double = if (n == 0) 0.0 else m.getOrElse(name, 0.0) / n
  def total(name: String): Double = m.getOrElse(name, 0.0)
  def means: Map[String, Double] = m.keys.map(k => k -> mean(k)).toMap
}
