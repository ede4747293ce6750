package graft.exec

import scala.collection.mutable

/** Per-statement operation tracing (observability.rs:1-10,323 — the
  * reference instruments engine operations with `tracing` spans
  * alongside its counters; this is the graft counterpart, an
  * in-engine span recorder rather than a process-global subscriber).
  *
  * Each top-level statement, while tracing is ON, records a tree of
  * named spans: the statement root, its parse, and the engine phases
  * it actually exercises (guard probes, staging write, manifest
  * commit, publish, state reads, snapshots). Nested statements —
  * trigger bodies, procedure bodies — nest as child spans of the
  * statement that fired them, because the engine's statement dispatch
  * is reentrant.
  *
  * Scale/cost contract:
  *   - OFF (the default) costs one volatile read per potential span.
  *   - ON costs two `System.nanoTime()` calls and one buffer append
  *     per span — driver-side only, never a Spark job, never touches
  *     the data path.
  *   - Completed traces land in a bounded ring (newest [[MaxTraces]]
  *     kept), so memory is O(1) regardless of uptime.
  *
  * Wall-clock durations are inherently nondeterministic, so the trace
  * surface is unit-tested (TracingSpec) and kept OUT of the oracled
  * query set — the same boundary SHOW PERF draws vs SHOW METRICS.
  *
  * Single-writer discipline: spans are recorded only from the
  * statement thread, which holds the engine's write-lock monitor for
  * the whole statement; work the engine offloads to Par forks is
  * accounted for by the `probe-join` span at the point the statement
  * would block on it (the join IS the statement-visible cost). The
  * completed-trace ring is additionally synchronized because HTTP
  * `/traces` reads it from the admin server's dispatcher thread.
  */
final class Tracer {

  /** One completed span. `parentId` is -1 for the trace root.
    * `startMs`/`durMs` are offsets from the trace start — offsets
    * (not epochs) keep SHOW TRACE output self-contained. */
  final case class SpanRow(traceId: Long, spanId: Long, parentId: Long,
      name: String, detail: String, startMs: Double, durMs: Double,
      ok: Boolean)

  /** Completed trace: root statement text, total wall ms, span rows
    * in creation (= start) order. */
  final case class Trace(traceId: Long, statement: String,
      totalMs: Double, spans: Vector[SpanRow])

  @volatile var enabled: Boolean = false

  private val MaxTraces = 64
  private val MaxSpansPerTrace = 512
  private val ring = mutable.ArrayDeque.empty[Trace]
  private var nextTraceId = 1L

  // live state for the in-flight trace — owner (statement) thread only.
  // The engine offloads probe construction/execution to a pool; a span
  // call from any non-owner thread is a silent no-op (the statement-
  // visible cost of that work is the owner thread's `probe-join` span).
  @volatile private var owner: Thread = _
  private var liveTrace = 0L
  private var liveT0 = 0L
  private var nextSpanId = 0L
  private var stack: List[Long] = Nil
  private var buf: mutable.ArrayBuffer[SpanRow] = _
  private var rootStmt: String = ""

  /** Statement entry: opens a new trace when none is live (claiming
    * ownership for this thread), otherwise attaches a child span —
    * reentrant statement dispatch makes trigger/procedure statements
    * children of the statement that fired them for free. */
  def statement[T](stmt: String)(body: => T): T = {
    if (!enabled) body
    else if (owner eq Thread.currentThread()) record("statement", stmt)(body)
    else if (owner ne null) body // foreign thread mid-trace: skip
    else {
      owner = Thread.currentThread()
      val outer = Tracer.live.get
      Tracer.live.set(this)
      liveTrace = nextTraceId; nextTraceId += 1
      liveT0 = System.nanoTime()
      nextSpanId = 0
      buf = mutable.ArrayBuffer.empty[SpanRow]
      rootStmt = stmt
      try record("statement", stmt)(body)
      finally {
        val total = (System.nanoTime() - liveT0) / 1e6
        val rows = buf.sortBy(_.spanId).toVector // buf is in END order
        // re-check enabled: SET TRACE OFF ran inside THIS statement's
        // trace and means "stop recording, clear the ring" — its own
        // trace must not survive the clear
        if (enabled) ring.synchronized {
          ring.append(Trace(liveTrace, rootStmt.take(500), total, rows))
          if (ring.size > MaxTraces) ring.removeHead()
        }
        buf = null
        owner = null
        Tracer.live.set(outer)
      }
    }
  }

  /** Record `body` as a child span of the innermost open span. No-op
    * unless a trace is live AND this is the owning statement thread. */
  def span[T](name: String, detail: String = "")(body: => T): T =
    if (!enabled || (owner ne Thread.currentThread())) body
    else record(name, detail)(body)

  /** `span` whose detail describes what the body returned (counts it
    * learned while running). */
  def spanOf[T](name: String)(body: => T)(detail: T => String): T =
    if (!enabled || (owner ne Thread.currentThread())) body
    else {
      var d = ""
      record(name, d) { val r = body; d = detail(r); r }
    }

  private def record[T](name: String, detail: => String)(body: => T): T = {
    val id = nextSpanId; nextSpanId += 1
    val parent = stack.headOption.getOrElse(-1L)
    stack = id :: stack
    // reserve the slot at START, fill at completion: spans drop
    // newest-first past the cap, so a kept span's ancestors (started
    // earlier, hence reserved earlier slots) are always kept too — the
    // tree stays rooted and parent ids always resolve, even when a
    // procedure cascade blows the cap
    val slot = if (buf.size < MaxSpansPerTrace) {
      buf += null; buf.size - 1
    } else -1
    val t0 = System.nanoTime()
    var ok = true
    try body
    catch {
      case e: Throwable =>
        // a non-local return from an instrumented engine method (e.g.
        // a replayed micro-batch's early skip) is normal control flow,
        // not a failure
        ok = e.isInstanceOf[scala.runtime.NonLocalReturnControl[_]]
        throw e
    }
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (slot >= 0)
        buf(slot) = SpanRow(liveTrace, id, parent, name, detail.take(500),
          (t0 - liveT0) / 1e6, (t1 - t0) / 1e6, ok)
    }
  }

  /** Newest-first completed traces. */
  def traces: Seq[Trace] = ring.synchronized { ring.toSeq.reverse }

  /** Span rows of one completed trace, creation order. */
  def spansOf(traceId: Long): Option[Trace] =
    ring.synchronized { ring.find(_.traceId == traceId) }

  def clear(): Unit = ring.synchronized { ring.clear() }
}

object Tracer {
  private val live = new ThreadLocal[Tracer]

  /** The tracer whose statement trace is live on this thread: lets work
    * below the engine's own calls (an optimizer rule running while the
    * statement plans) record spans into the statement's trace. */
  def current: Option[Tracer] = Option(live.get)
}
