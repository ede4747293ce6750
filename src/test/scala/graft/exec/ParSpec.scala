package graft.exec

import graft.{GroupJobs, TestSpark}
import org.apache.spark.scheduler.JobSucceeded
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The structured-concurrency helper (Par.scala): a failed fork
  * cancels its siblings' Spark jobs and rethrows at once, a scope never
  * exits with a fork still running, and forks run under the caller's
  * job group — never a stale one inherited by a pool thread. Each test
  * uses its own job group, so other suites' jobs never interfere. */
class ParSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** How long the sibling's tasks sleep: far longer than any cancel. */
  private val SleepMs = 8000L

  /** The scheduler fails a cancelled job's waiter just before it
    * stamps the job's end event, so an end time may trail the caller's
    * return by a moment — never by a task's remaining sleep. */
  private val EndSlackMs = 1000L

  private def sleepingJob(): Long = {
    val ms = SleepMs
    spark.sparkContext.parallelize(1 to 2, 2).map { x => Thread.sleep(ms); x }
      .count()
  }

  private def awaitStart(jobs: GroupJobs): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (jobs.started.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(!jobs.started.isEmpty, "the fork's job never started")
  }

  /** Every job of the group ended cancelled, none after `returnedAt`. */
  private def assertCancelledBy(jobs: GroupJobs, returnedAt: Long): Unit = {
    jobs.sync()
    assert(!jobs.started.isEmpty, "the sibling never submitted its job")
    assert(jobs.running.isEmpty, s"jobs still running: ${jobs.running}")
    jobs.ended.values.asScala.foreach { case (time, result) =>
      assert(result != JobSucceeded && result.toString.contains("cancel"),
        s"job ended $result")
      assert(time <= returnedAt + EndSlackMs,
        s"job ended ${time - returnedAt} ms after the call returned")
    }
    // the fork's jobs carry its own tag, on top of the caller's group
    assert(jobs.started.values.asScala.forall(
      _.getProperty("spark.job.tags", "").contains("graft-fork-")))
  }

  test("the first failure cancels a sibling's running job and rethrows at once") {
    val sc = spark.sparkContext
    val jobs = GroupJobs(spark, "par-first-failure")
    sc.setJobGroup(jobs.group, "par spec", interruptOnCancel = true)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Par.all(sc, Seq(0, 1)) { i =>
          if (i == 0) throw new IllegalStateException("first failure")
          else sleepingJob()
        }
      }
      val returnedAt = System.currentTimeMillis()
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(e.getMessage == "first failure")
      assert(elapsedMs < SleepMs / 2,
        s"rethrew after $elapsedMs ms: the sibling was not cancelled")
      assert(sc.getLocalProperty("spark.jobGroup.id") == jobs.group,
        "the caller's job group changed")
      assertCancelledBy(jobs, returnedAt)
    } finally {
      sc.clearJobGroup()
      jobs.close()
    }
  }

  test("a scope whose body throws cancels and settles the fork it never joined") {
    val sc = spark.sparkContext
    val jobs = GroupJobs(spark, "par-unjoined")
    val settled = new java.util.concurrent.atomic.AtomicBoolean(false)
    sc.setJobGroup(jobs.group, "par spec", interruptOnCancel = true)
    try {
      val t0 = System.nanoTime()
      intercept[IllegalStateException] {
        Par.scope(sc) { s =>
          s.fork(try sleepingJob() finally settled.set(true))
          awaitStart(jobs)
          throw new IllegalStateException("statement failed before the join")
        }
      }
      val exitedAt = System.currentTimeMillis()
      assert(settled.get, "the fork outlived its scope")
      assert((System.nanoTime() - t0) / 1000000 < SleepMs / 2)
      assertCancelledBy(jobs, exitedAt)
    } finally {
      sc.clearJobGroup()
      jobs.close()
    }
  }

  test("forks run under the caller's group, in item order; one item runs inline") {
    val sc = spark.sparkContext
    def group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("par-propagation", "par spec")
    try {
      assert(Par.all(sc, 1 to 6)(i => (i, group)) === (1 to 6).map(_ -> "par-propagation"))
      val caller = Thread.currentThread()
      assert(Par.all(sc, Seq(1))(_ => Thread.currentThread()) === Seq(caller))
    } finally sc.clearJobGroup()
    // pool threads created above inherited the group; a group-less
    // caller's forks must not submit under it
    assert(Par.all(sc, 1 to 6)(_ => group).forall(_ == null))
  }
}
