package graft.operators

import org.apache.spark.sql.DataFrame

/** Semi-naive recursive-CTE evaluation (SURVEY §2.8 / §4.4#3).
  *
  * The reference iterates the recursive term against the previous
  * iteration's working set, deduplicating against accumulated results
  * for UNION and skipping dedup for UNION ALL, with an iteration cap
  * (sql_bridge.rs:785-904). This is the same fixpoint loop expressed
  * over DataFrames: each step feeds only the *delta* (new rows) back
  * into the recursive term, which is the semi-naive optimization — at
  * scale the per-iteration work is proportional to the frontier, not
  * the accumulated result.
  *
  * Scale notes: only the per-iteration DELTA is checkpointed — the
  * accumulated result stays a lazy union of already-materialized delta
  * blocks, so nothing re-writes the full accumulated set each
  * iteration (that would be O(iters·|acc|) memory traffic at depth).
  * The union tree is re-pinned every `repinEvery` iterations: a
  * never-pinned left-deep union of hundreds of leaves makes each
  * `except(acc)` pay Catalyst analysis over the whole tree (O(iters²)
  * planning) and risks TreeNode stack overflow near the iteration cap,
  * while re-pinning every K bounds plan depth at K leaves for one
  * O(|acc|) rewrite per K iterations. On a real cluster use a reliable
  * checkpoint dir instead (`df.checkpoint()`).
  */
object RecursiveCTE {

  /** @param anchor    non-recursive seed rows
    * @param step      recursive term: frontier => next rows
    * @param distinct  true = UNION semantics (dedup against accumulated
    *                  set, termination on empty delta); false = UNION ALL
    *                  (terminate when the step yields no rows)
    * @param maxIter   safety cap, mirroring the reference's 1000
    */
  def run(
      anchor: DataFrame,
      step: DataFrame => DataFrame,
      distinct: Boolean = true,
      maxIter: Int = 1000,
      repinEvery: Int = 16): DataFrame = {
    require(repinEvery > 0, s"repinEvery must be positive (got $repinEvery)")
    // each pin rides GraftBridge.pin so the row count — the
    // fixpoint's termination probe — comes out of the SAME job as the
    // materialization (round 18): the loop used to pay an isEmpty job
    // per iteration on top of each eager checkpoint job
    val anchorPin = org.apache.spark.sql.GraftBridge
      .pin(if (distinct) anchor.distinct() else anchor)
    var acc = anchorPin.df
    var frontier = acc
    var frontierRows = anchorPin.counts.sum
    // pins the CURRENT acc union tree still references — freed at each
    // re-pin, once the repinned copy has materialized their rows
    var live = List(acc)
    var i = 0
    while (i < maxIter && frontierRows > 0) {
      val produced = step(frontier)
      val deltaPin = org.apache.spark.sql.GraftBridge
        .pin(if (distinct) produced.distinct().except(acc) else produced)
      val delta = deltaPin.df
      frontierRows = deltaPin.counts.sum
      live ::= delta
      acc = acc.union(delta) // lazy: both sides are pinned already
      i += 1
      if (i % repinEvery == 0) {
        val repinned = acc.localCheckpoint() // eager: copies acc's rows
        // everything under the old union tree is now dead EXCEPT the
        // current delta — it feeds the next iteration's step/except
        live.filterNot(_ eq delta).foreach(graft.Pins.free)
        live = List(repinned, delta)
        acc = repinned
      }
      frontier = delta
    }
    acc
  }
}
