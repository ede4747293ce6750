package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{JobResult, SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.jdk.CollectionConverters._

/** Records what ONE Spark job group submits, as a SparkListener sees
  * it: job starts with their local properties, job ends with their
  * time and result, and SQL execution plans. Listener events arrive
  * asynchronously; `sync()` returns once every event posted before the
  * call has been seen. */
final class GroupJobs private (spark: SparkSession, val group: String)
    extends SparkListener {

  val started = new ConcurrentHashMap[Int, Properties]()
  val ended = new ConcurrentHashMap[Int, (Long, JobResult)]()
  val plans = new ConcurrentLinkedQueue[String]()
  @volatile private var marker: String = _

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty(GroupJobs.Marker)) match {
        case Some(m) => marker = m
        case None =>
          if (p.getProperty("spark.jobGroup.id") == group) started.put(e.jobId, p)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (started.containsKey(e.jobId)) ended.put(e.jobId, (e.time, e.jobResult))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
      plans.add(s.physicalPlanDescription)
    case _ => ()
  }

  /** Jobs of the group that have started and not ended. */
  def running: Set[Int] = started.keySet.asScala.toSet -- ended.keySet.asScala

  /** Block until the listener has seen every event posted so far: run
    * a marker job and wait for its start event, which the listener bus
    * delivers after everything posted before it. */
  def sync(): Unit = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(GroupJobs.Marker, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(GroupJobs.Marker, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (marker != id && System.nanoTime() < deadline) Thread.sleep(10)
    assert(marker == id, "listener never saw the sync marker job")
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object GroupJobs {
  private val Marker = "graft.test.sync"

  /** A listener for a fresh, unique group name, registered on `spark`. */
  def apply(spark: SparkSession, prefix: String): GroupJobs = {
    val g = new GroupJobs(spark, s"$prefix-${java.util.UUID.randomUUID()}")
    spark.sparkContext.addSparkListener(g)
    g
  }
}
