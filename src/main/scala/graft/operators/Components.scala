package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge frame — the clustering step that
  * turns near-duplicate PAIRS (`Dedup.jaccardPairs`,
  * `shingleJaccardPairs`, `cosineNearDupPairs`, `minHashCandidates`,
  * `simHashPairs`) into duplicate CLUSTERS with one canonical document
  * each. A training-data dedup pipeline needs this closure: pairwise
  * detectors report (A,B) and (B,C) separately, and dropping "the
  * second doc of every pair" would wrongly keep or drop C depending on
  * pair order; the component is the real duplicate group.
  *
  * Algorithm: iterative min-label propagation with pointer jumping —
  * each round every vertex takes the min label among itself and its
  * neighbors, then label := label(label) halves indirection chains, so
  * convergence is O(log diameter) rounds (the hash-to-min / pointer-
  * jumping family of MapReduce connected-components algorithms,
  * e.g. Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14 — public literature, no code derived).
  *
  * Scale design (100 TB corpus, 10⁹+ vertices):
  *  - every round is two hash joins + one aggregation — no driver
  *    state, no per-vertex driver loop;
  *  - each round's labels pin through GraftBridge.pin with a
  *    changed-flag tally: ONE job materializes the round's persisted
  *    blocks AND counts the changed rows during the same pass, so the driver
  *    learns convergence without a separate probe job, and lineage
  *    truncates so round k's plan does not replay rounds 1..k-1
  *    (same discipline as RecursiveCTE.scala);
  *  - near-dup graphs have tiny components (LSH buckets are cliques,
  *    chains are short), so rounds ≈ 3-5 in practice; the cap is a
  *    convergence GUARD that raises instead of silently returning
  *    wrong labels.
  */
object Components {

  /** Components of the undirected graph given by the first two columns
    * of `edges`. Returns (id, component) for every vertex appearing in
    * an edge, where component = min vertex id of its component.
    * Vertices with no edges are absent — callers treat them as
    * singletons (coalesce to own id after a left join). */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2).map(col)
    // pin the ONE-direction frame first: `edges` is often an expensive
    // lineage (a shingle self-join for dedup pairs), and a union of
    // two projections over it would execute that lineage TWICE during
    // the eager checkpoint. Pin once, then mirror the cheap pinned
    // blocks — every round re-reads this two-projection union.
    val e0 = edges.select(ca.as("src"), cb.as("dst")).localCheckpoint()
    // e0 now holds the derived pairs, so any checkpoint pins INSIDE the
    // incoming edge lineage (e.g. Dedup's materialized shingle table)
    // are dead — free them here instead of stranding them for the
    // whole closure. Contract: connectedComponents CONSUMES the edge
    // frame; callers must not re-execute `edges` afterwards.
    graft.Pins.free(edges)
    val bi = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    var labels = bi.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // neighbor-min: comp := min(comp, min over neighbors' comp).
      // The OLD label rides along as `prev` so the convergence probe
      // below needs no extra join back to `labels`.
      val nbrMin = bi.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("comp").as("nbr"))
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
      // pointer jumping: comp := comp(comp). Labels are always vertex
      // ids, so the lookup is a self-join; label(label) <= label keeps
      // the map monotone while halving chains.
      // The convergence probe rides the SAME job as the round's pin
      // (round 18, the pin's tally): each round used to pay an eager
      // checkpoint job plus a limit-1 probe job — the changed tally is
      // computable during the materialization pass itself, halving the
      // per-round job count of the closure.
      // A TWO-hop variant (comp := j1(j1(comp)) inside one round job,
      // quartering chains to halve the round count) was implemented
      // and MEASURED a net loss in round 19 — the un-pinned
      // neighbor-min subtree re-executes 4x inside the doubled
      // self-join and exchange reuse does not recover it
      // (q_dup_clusters 4.0-4.6 s -> 6.6-7.3 s, q_dedup_keep
      // 4.0-5.1 -> 6.8-7.1 interleaved A/B at sf0.1); reverted, the
      // one-hop round below stands.
      val jumped = org.apache.spark.sql.GraftBridge.pin(
        prop.join(
            prop.select(col("id").as("comp"), col("comp").as("comp2")),
            Seq("comp"), "left")
          .select(col("id"),
            coalesce(col("comp2"), col("comp")).as("comp"),
            (coalesce(col("comp2"), col("comp")) =!= col("prev"))
              .as("__chg")),
        tally = r => if (!r.isNullAt(2) && r.getBoolean(2)) 1L else 0L)
      changed = jumped.tally
      // the new round's pin is materialized, so the superseded round's
      // blocks are dead — free them now instead of stranding ~rounds
      // pins per invocation until a GC
      graft.Pins.free(labels)
      labels = jumped.df.select(col("id"), col("comp"))
      round += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          "(pathological graph? raise maxRounds)")
    graft.Pins.free(e0) // no round will re-read the edge frame
    labels.select(col("id"), col("comp").as("component"))
  }

  /** The drop step of a dedup pipeline: close `pairs` (first two
    * columns = duplicate doc-id pairs) into components, keep ONE
    * canonical row per cluster (min id; docs in no pair are their own
    * singleton cluster), and annotate each survivor with its
    * `cluster_size` — the training-data answer to "how much did this
    * document repeat", which downstream sampling often weights by.
    * Two shuffles beyond the closure: the cluster join and the size
    * aggregation, both on the cluster key. */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(
      pairs.select(pairs.columns.take(2).map(col).toIndexedSeq: _*))
      .withColumnRenamed("id", idCol)
    val clustered = docs.join(comps, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(idCol)))
      .drop("component")
    val sizes = clustered.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    clustered.where(col(idCol) === col("cluster_id"))
      .join(sizes, "cluster_id")
      .drop("cluster_id")
  }
}
