package graft.exec

import org.apache.spark.SparkContext

import scala.util.{Failure, Success, Try}

/** Structured concurrency for driver-blocking Spark work: the one way
  * the engine and the query battery run Spark actions concurrently.
  *
  * A [[Scope]] forks work items onto a shared daemon pool and owns
  * them until it exits. Each fork:
  *   - runs under the forking thread's Spark job group, description
  *     and interrupt-on-cancel flag, so a statement-timeout
  *     `cancelJobGroupAndFutureJobs` or a PG CancelRequest reaches its
  *     jobs exactly like the statement thread's own;
  *   - always resets the pool thread's group and job tags first:
  *     cached pool threads inherit local properties from whichever
  *     thread created them, so a group-less caller would otherwise
  *     submit jobs under a stale inherited group and be collaterally
  *     cancelled by a later cancel of that group;
  *   - tags its jobs with its own Spark job tag on top of the caller's
  *     tags. A tag, not a sub-group: a job has one group, and the
  *     statement's group must stay the one that timeouts cancel.
  * After a fork fails, the next join — at once under [[all]], whose
  * caller is always joining — or the scope's exit cancels the unsettled
  * siblings' jobs by tag and rethrows the first failure. The cancel
  * is re-issued until every sibling has settled: a sibling
  * still planning submits its job after a one-shot cancel, and a
  * sibling that keeps running would race whatever teardown follows the
  * failure (unpersisting the pins it reads, deleting staging dirs).
  * On scope exit every fork that was not joined is joined (normal
  * exit) or cancelled and awaited (the body threw), so no fork outlives
  * the scope that started it.
  *
  * Tracer spans no-op off the statement thread by design: callers wrap
  * a join in one statement-thread span that accounts the whole wall. */
object Par {

  /** Shared daemon pool. Cached: idle threads die, bursts reuse them;
    * its live size tracks concurrent statements, not statement
    * volume. */
  private val pool = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val th = new Thread(r, "graft-par")
    th.setDaemon(true)
    th
  }

  private val forkIds = new java.util.concurrent.atomic.AtomicLong

  /** The forking thread's local properties every fork runs under. */
  private val Propagated = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** How often a cancel is re-issued while a fork has not settled. */
  private val RecancelMs = 20L

  /** Run independent work items concurrently and return their results
    * in ITEM order, never completion order, so plan construction stays
    * deterministic. A single item runs inline: the common one-table
    * refresh pays no handoff. The first failure rethrows once every
    * sibling has been cancelled and has settled. */
  def all[A, B](sc: SparkContext, items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthIs <= 1) items.map(f)
    else scope(sc) { s => items.map(a => s.fork(f(a))).map(_.join()) }

  /** Run `body` with a scope to fork into; see the object comment for
    * what the scope guarantees on exit. */
  def scope[R](sc: SparkContext)(body: Scope => R): R = {
    val s = new Scope(sc)
    val r =
      try body(s)
      catch { case e: Throwable => s.cancelUnsettled(); throw e }
    s.joinRest()
    r
  }

  /** A forked work item. `join()` is idempotent. */
  final class Fork[T] private[Par] (scope: Scope, private[Par] val tag: String) {
    @volatile private[Par] var result: Try[T] = _
    @volatile private[Par] var joined = false

    /** This fork's value. Rethrows the scope's FIRST failure when this
      * fork failed, or when a sibling failed before this fork settled
      * (the fork is then cancelled and awaited first). */
    def join(): T = {
      joined = true
      scope.await(this)
      result.get
    }
  }

  final class Scope private[Par] (sc: SparkContext) {
    // both guarded by this scope's monitor
    private val forks = scala.collection.mutable.ArrayBuffer.empty[Fork[_]]
    private var failure: Throwable = _

    def fork[T](body: => T): Fork[T] = {
      val props = Propagated.map(k => k -> sc.getLocalProperty(k))
      val tags = sc.getJobTags()
      val f = new Fork[T](this, s"graft-fork-${forkIds.incrementAndGet()}")
      synchronized { forks += f }
      pool.execute { () =>
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        sc.clearJobTags()
        sc.addJobTags(tags + f.tag)
        val r: Try[T] =
          try Success(body)
          catch { case e: Throwable => Failure(e) }
          finally {
            Propagated.foreach(sc.setLocalProperty(_, null))
            sc.clearJobTags()
          }
        synchronized {
          f.result = r
          if (r.isFailure && failure == null) failure = r.failed.get
          notifyAll()
        }
      }
      f
    }

    /** Wait until `f` settles or any fork fails; on a failure that
      * concerns `f`, cancel what is still running and rethrow the
      * first failure. */
    private[Par] def await(f: Fork[_]): Unit = {
      val failed = synchronized {
        while (f.result == null && failure == null) wait()
        f.result == null || f.result.isFailure
      }
      if (failed) {
        cancelUnsettled()
        throw synchronized(failure)
      }
    }

    /** Cancel every unsettled fork's jobs, re-issuing the cancel until
      * each has settled. */
    private[Par] def cancelUnsettled(): Unit = {
      var live = synchronized(forks.filter(_.result == null).toList)
      while (live.nonEmpty) {
        live.foreach(f => sc.cancelJobsWithTag(f.tag, "graft scope cancelled"))
        synchronized {
          if (live.exists(_.result == null)) wait(RecancelMs)
        }
        live = live.filter(_.result == null)
      }
    }

    private[Par] def joinRest(): Unit =
      synchronized(forks.toList).filterNot(_.joined).foreach(_.join())
  }
}
