package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark-side counters for the whole session: jobs, stages, tasks,
  * task run time and shuffle/spill volume. Snapshots are subtracted
  * around an operation or a phase to attribute the work to it. */
final class Ledger extends SparkListener {
  private val c = Array.fill(Ledger.Names.size)(new AtomicLong)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = c(0).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(5).addAndGet(m.shuffleWriteMetrics.recordsWritten)
      c(6).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snap(): Ledger.Snap = Ledger.Snap(c.map(_.get).toVector)
}

object Ledger {
  val Names: Vector[String] = Vector("spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_ms", "spark.shuffle_write_bytes",
    "spark.shuffle_records", "spark.spill_bytes")

  final case class Snap(v: Vector[Long]) {
    def -(o: Snap): Snap = Snap(v.lazyZip(o.v).map(_ - _))
    def byName: Map[String, Long] = Names.zip(v).toMap
  }
  val Zero: Snap = Snap(Vector.fill(Names.size)(0L))
}

/** JVM collector time and heap peak, read through the management
  * beans. The heap peak is the sum of per-pool peaks since the last
  * reset, an upper bound on the true simultaneous peak. */
object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    heapPools.map(p => Option(p.getPeakUsage).fold(0L)(_.getUsed)).sum / 1048576.0

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

/** A measured phase: wall time, Spark work and collector time between
  * `start` and `stop`. */
final class Phase(ledger: Ledger, sc: SparkContext) {
  private var t0 = 0L
  private var s0 = Ledger.Zero
  private var g0 = 0L
  var wallMs = 0.0
  var spark: Ledger.Snap = Ledger.Zero
  var gcMs = 0L
  var heapPeakMb = 0.0

  def start(): this.type = {
    org.apache.spark.BenchBus.drain(sc)
    Jvm.resetPeak()
    g0 = Jvm.gcMs; s0 = ledger.snap(); t0 = System.nanoTime()
    this
  }

  def stop(): this.type = {
    wallMs = (System.nanoTime() - t0) / 1e6
    org.apache.spark.BenchBus.drain(sc)
    spark = ledger.snap() - s0
    gcMs = Jvm.gcMs - g0
    heapPeakMb = Jvm.heapPeakMb
    this
  }
}
