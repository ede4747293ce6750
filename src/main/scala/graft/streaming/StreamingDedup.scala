package graft.streaming

import graft.exec.{Guards, Par, QueryEngine}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Incremental (streaming) exact and near-dup deduplication — the
  * continuous form of the batch dedup operators (operators/Dedup.scala),
  * and the shape a 100 TB pipeline actually runs: a corpus is not
  * deduped once, it ACCRETES, and each new shard must admit only
  * never-seen documents without re-scanning everything already
  * ingested. The reference has no analogue (its closest machinery is
  * the event-log replication tail, replication.rs) — this is a
  * pipeline extension like MinHash/SimHash.
  *
  * Design: the seen-set is not stream state (a
  * `flatMapGroupsWithState` store is private to one query and
  * unreadable by the rest of the engine) but an ordinary event-sourced
  * REGISTRY TABLE. That buys:
  *   - durability + time travel for free (`FOR SYSTEM_TIME` shows
  *     when any fingerprint or posting arrived);
  *   - atomicity: admitted documents and their registry rows land in
  *     ONE publish manifest together with the micro-batch id, so a
  *     crash replay skips whole — the registry can never drift from
  *     the table it guards (exactly-once, the StreamIngest pattern);
  *   - scale: the per-batch probe is a point probe — small batches
  *     inline their keys so the bloom-indexable registry scan prunes
  *     to the probed row groups instead of collapsing the whole
  *     registry per batch (the FK-probe discipline, Guards).
  *
  * Each micro-batch body runs inside the engine's batch envelope
  * (`QueryEngine.writeBatch`: write lock, base-dir lock, replay skip,
  * trace, auto refresh) and ends in the engine's stream publish. */
object StreamingDedup {

  /** Start deduplicated ingestion of `stream` into `table`; each
    * micro-batch runs [[ingestDeduped]]. The registry table's primary
    * key column receives the fingerprint (declare it STRING). */
  def start(
      engine: QueryEngine,
      table: String,
      registry: String,
      stream: DataFrame,
      fingerprint: Column,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "StreamingDedup.start needs a streaming DataFrame")
    engine.catalog.require(table)
    engine.catalog.require(registry)
    StreamIngest.sink(stream, checkpointDir, trigger) { (batch, batchId) =>
      ingestDeduped(engine, table, registry, batch, fingerprint,
        Some(checkpointDir), batchId)
    }
  }

  /** Start NEAR-dup-deduplicated ingestion of `stream` into `table`;
    * each micro-batch runs [[ingestNearDedup]], which states the policy
    * and the registry schema. */
  def startNearDup(
      engine: QueryEngine,
      table: String,
      registry: String,
      stream: DataFrame,
      textCol: Column,
      shingleN: Int,
      minJaccard: Double,
      checkpointDir: String,
      maxDf: Long = 10000L,
      requireOrdered: Boolean = true,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stream.isStreaming, "StreamingDedup.startNearDup needs a streaming DataFrame")
    engine.catalog.require(table)
    engine.catalog.require(registry)
    StreamIngest.sink(stream, checkpointDir, trigger) { (batch, batchId) =>
      ingestNearDedup(engine, table, registry, batch, textCol,
        shingleN, minJaccard, maxDf, Some(checkpointDir), batchId,
        requireOrdered)
    }
  }

  /** One exact-dedup micro-batch: rows whose `fingerprint` already
    * exists in `registry` (or earlier in the batch — lowest table-pk
    * wins) are dropped; survivors append to `table` and their
    * fingerprints to `registry` atomically, with the batch id when
    * `streamId` is given. Per micro-batch:
    *   1. fingerprint each row; the lowest-pk row per fingerprint
    *      wins inside the batch;
    *   2. probe the registry's collapsed state for already-seen
    *      fingerprints — small batches inline their fingerprint list;
    *      past the cap the anti-join shape stands on its own;
    *   3. land the admitted rows AND their fingerprints in ONE atomic
    *      publish — a document can neither duplicate nor vanish.
    * The registry's primary key holds the fingerprint; its other
    * columns fill from same-named batch columns (NULL otherwise). */
  private[graft] def ingestDeduped(engine: QueryEngine, table: String,
      registry: String, batch: DataFrame, fingerprint: Column,
      streamId: Option[String], batchId: Long): Unit = {
    val replay = streamId.map(_ -> batchId)
    engine.writeBatch(s"INGEST DEDUP $table", replay) {
      val t = engine.catalog.require(table)
      val r = engine.catalog.require(registry)
      val full = engine.byName(batch, t).withColumn("__fp", fingerprint)
      val w = Window.partitionBy(col("__fp")).orderBy(col(t.pk))
      // firsts is one row per DISTINCT fingerprint, so the pin job's
      // count of non-null fingerprints IS the probe's key set size
      // (the NULL-fingerprint group's row is no key): past InlineKeyCap
      // the inline collect MUST overflow — skip its two probe jobs and
      // take the unfiltered registry anti-join directly
      val firsts0 = full.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
      val fpAt = firsts0.schema.fieldIndex("__fp")
      val fp = engine.pinBatch(firsts0,
        tally = row => if (row.isNullAt(fpAt)) 0L else 1L)
      val firsts = fp.df
      val state = engine.stateAt(r.name, None)
      val seen = (if (fp.tally > Guards.InlineKeyCap) state
          else Guards.inlineKeyFilter(state, r.pk, firsts, "__fp"))
        .select(col(r.pk).cast("string").as("__seen_fp"))
      val admitted = engine.pinBatch(firsts
        .join(seen, col("__fp") === col("__seen_fp"), "left_anti")).df
      engine.publishStream(Seq(t -> admitted.drop("__fp"),
          r -> engine.byName(admitted.withColumn(r.pk, col("__fp")), r)),
        replay,
        // the REGISTRY's pk (the fingerprint) is unique by construction
        // — one row per fp inside the batch, anti-joined against every
        // seen fp — so it keeps its flat-log certificate; the TABLE's
        // pk was never probed (two different-fingerprint rows may share
        // a pk), so it revokes
        mutated = Set(t.name))
    }
  }

  /** One near-dup micro-batch against a persistent shingle
    * inverted-index registry — the continuous form of
    * `Dedup.shingleJaccardPairs`.
    *
    * Policy ("seen semantics"): a document is DROPPED iff some SEEN
    * document — any earlier batch's doc, or an earlier-pk row of its
    * own batch — shares >= `minJaccard` shingle-set Jaccard overlap
    * with it. Seen means seen, admitted or not: comparing against all
    * prior documents (rather than only admitted ones) makes the result
    * independent of drop chains, so the final state is reproducible in
    * PLAIN SQL — a doc survives iff no smaller-id doc in the whole
    * corpus clears the threshold — which is exactly what the
    * q_stream_neardup oracle computes. It is also the conservative
    * policy a curation pipeline wants: "similar to anything we have
    * seen" is a stronger dedup than "similar to something we kept".
    * Id order and arrival order agree only when batches arrive in
    * ascending pk ranges, which `requireOrdered` enforces (see the
    * ordered guard below).
    *
    * Registry index table (caller creates): a string PRIMARY KEY
    * (filled with tok + '#' + doc id) plus columns `tok` STRING,
    * `doc_id` BIGINT, `n` BIGINT (the doc's shingle count). Every
    * batch appends ALL its docs' postings (seen semantics); probes
    * filter the registry scan with inlined batch tokens when small
    * (bloom-indexable via CREATE INDEX ON (tok)). `maxDf` drops tokens
    * whose REGISTRY posting list exceeds it — the bucket-size bound of
    * the batch operators; pass Long.MaxValue to disable (the
    * oracle-exact configuration).
    *
    * Per micro-batch: shingle each doc (one scan-stage pass), build
    * within-batch edges (inverted-index self-join, earlier pk wins)
    * and cross edges (probe join against the registry), drop receivers
    * clearing the threshold, then land admitted rows AND all postings
    * in ONE atomic publish carrying the micro-batch id. */
  private[graft] def ingestNearDedup(engine: QueryEngine, table: String,
      registry: String, batch: DataFrame, textCol: Column, shingleN: Int,
      minJaccard: Double, maxDf: Long, streamId: Option[String],
      batchId: Long, requireOrdered: Boolean = true): Unit = {
    val replay = streamId.map(_ -> batchId)
    engine.writeBatch(s"INGEST NEARDUP $table", replay) {
      val t = engine.catalog.require(table)
      val r = engine.catalog.require(registry)
      val shaped = engine.byName(batch, t)
        .withColumn("__sh",
          graft.operators.Dedup.shingleSet(textCol, shingleN))
      // total posting count (Σ shingle-array lengths, null arrays 0)
      // rides the pin job: it bounds the batch's distinct-token count
      // from above, which decides below whether the registry probe's
      // inline-key collect can possibly fit the cap — past it, the two
      // probe jobs ALWAYS overflowed and were pure waste on every
      // realistic batch
      val shAt = shaped.schema.fieldIndex("__sh")
      val sp = engine.pinBatch(shaped, tally = row =>
        if (row.isNullAt(shAt)) 0L else row.getArray(shAt).numElements().toLong)
      val (full, postings) = (sp.df, sp.tally)
      // the ordered guard: seen-before-wins equals the SQL "no
      // smaller-id doc clears the threshold" semantics ONLY when batches
      // arrive in ascending pk ranges — cross-batch drops are temporal
      // (registry doc wins regardless of id), so an out-of-order id
      // would silently invert who survives. requireOrdered = false
      // opts into pure arrival-order semantics instead.
      def outOfOrder(regMax: Any) = new IllegalArgumentException(
        s"ingestStreamNearDedup: batch contains pk <= the registry's " +
          s"max doc_id ($regMax) — batches must arrive in " +
          "ascending pk ranges for id-order semantics, or pass " +
          "requireOrdered = false for arrival-order semantics")
      // the metadata watermark stores a Long, so only INTEGRAL pks use
      // the fast guard; other orderable pk types keep the
      // content-derived guard (correct, one registry aggregate per
      // batch — a cast-to-long "guard" would silently null out and
      // never fire, the quiet corruption this check exists to prevent)
      val pkIntegral = t.columns.find(_.logical == t.pk).exists(_.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })
      // one batch-sized job over the pinned checkpoint: min drives the
      // ordered guard, max becomes the registry's new watermark, and
      // total-vs-distinct pk counts certify within-batch uniqueness
      // (above-watermark + distinct-in-batch = the whole log stays
      // unique-pk INSERTs, so both tables keep their flat-log
      // certificate and reads skip the keyed collapse).
      // FORKED: nothing before the publish has a side effect, so the
      // guard aggregate need not serialize ahead of the batch's
      // dedup-join materialization — it overlaps the admitted-pin job
      // and joins (surfacing any ordering violation) before the event
      // frames are built. If the batch fails first, the scope cancels
      // and awaits the guard before the failure propagates.
      Par.scope(engine.spark.sparkContext) { par =>
      val guard = par.fork {
        if (pkIntegral) {
          val bounds = full.agg(min(col(t.pk)).cast("long"),
            max(col(t.pk)).cast("long"),
            count(lit(1)), countDistinct(col(t.pk))).head()
          val unique = bounds.getLong(2) == bounds.getLong(3)
          val batchMin =
            if (bounds.isNullAt(0)) None else Some(bounds.getLong(0))
          if (requireOrdered) {
            // a CATALOG-METADATA compare — the registry is never
            // collapsed per batch. The watermark (max pk ever admitted)
            // commits in the same atomic manifest as the postings, so
            // it can never lag registry content. Registries filled
            // before the watermark existed fall back to ONE registry
            // aggregate; the first publish records it.
            val regMax = engine.catalog.watermark(r.name).orElse {
              val m = engine.stateAt(r.name, None)
                .agg(max(col("doc_id")).cast("long")).head()
              if (m.isNullAt(0)) None else Some(m.getLong(0))
            }
            for (rm <- regMax; bm <- batchMin)
              if (bm <= rm) throw outOfOrder(rm)
          }
          (unique, if (bounds.isNullAt(1)) None else Some(bounds.getLong(1)))
        } else {
          if (requireOrdered) {
            // content-derived guard for non-integral pks (native ordering)
            val regMax = engine.stateAt(r.name, None).agg(max(col("doc_id"))).head()
            if (!regMax.isNullAt(0) &&
                full.where(col(t.pk) <= lit(regMax.get(0))).limit(1).count() > 0)
              throw outOfOrder(regMax.get(0))
          }
          (false, None)
        }
      }
      // shingle-set size rides every posting row (scan-stage, computed
      // before the explode) so no edge aggregation ever joins back to a
      // separate sizes table — four shuffle joins per micro-batch fold
      // into the token explode itself
      val toks = full.select(col(t.pk).as("__id"),
        size(col("__sh")).cast("long").as("__n"), explode(col("__sh")).as("__tok"))
      def jacc(i: Column, en: Column, dn: Column): Column =
        i.cast("double") / (en + dn - i)
      // within-batch edges: inverted-index self-join, earlier pk wins;
      // __n is functionally dependent on the grouped doc ids, so max()
      // just carries it through
      val wiDrop = toks.as("a")
        .join(toks.as("b"),
          col("a.__tok") === col("b.__tok") && col("a.__id") < col("b.__id"))
        .groupBy(col("a.__id").as("__e"), col("b.__id").as("__d"))
        .agg(count(lit(1)).as("__i"), max(col("a.__n")).as("__en"),
          max(col("b.__n")).as("__dn"))
        .where(jacc(col("__i"), col("__en"), col("__dn")) >= minJaccard)
        .select(col("__d"))
      // cross edges: probe the registry's postings for batch tokens.
      // The inline probe only applies when the batch's distinct-token
      // count fits InlineKeyCap; `postings` (measured in the pin job)
      // bounds it from above, so a batch past the cap skips the probe
      // jobs outright instead of paying two guaranteed overflows. A
      // batch whose >cap postings collapse to <=cap distinct tokens
      // (an all-duplicates shard) loses only the scan pruning, never
      // correctness — the unfiltered registry join is the same
      // fallback an overflowed probe took.
      val probed0 =
        if (postings > Guards.InlineKeyCap) engine.stateAt(r.name, None)
        else Guards.inlineKeyFilter(engine.stateAt(r.name, None), "tok", toks, "__tok")
      val probed =
        if (maxDf == Long.MaxValue) probed0
        else probed0.join(
          probed0.groupBy("tok").agg(count(lit(1)).as("__df"))
            .where(col("__df") > maxDf).select(col("tok").as("__hot")),
          col("tok") === col("__hot"), "left_anti")
      val crDrop = toks.join(probed, col("__tok") === col("tok"))
        .groupBy(col("doc_id").as("__e"), col("__id").as("__d"))
        .agg(count(lit(1)).as("__i"), first(col("n")).as("__en"),
          max(col("__n")).as("__dn"))
        .where(jacc(col("__i"), col("__en"), col("__dn")) >= minJaccard)
        .select(col("__d"))
      val dropped = wiDrop.union(crDrop).distinct()
        .select(col("__d").as("__dropped"))
      val admitted = engine.pinBatch(full
        .join(dropped, col(t.pk) === col("__dropped"), "left_anti")
        .drop("__sh")).df
      // join the overlapped guard before any event frame exists — an
      // ordering violation must surface exactly as it did serially
      val (batchPkUnique, batchMax) = guard.join()
      // ALL batch docs' postings land in the registry (seen semantics);
      // toks already carries __n, and is a narrow re-read of the pinned
      // batch — no checkpoint copy, no join
      val postingRows = toks.select(
        concat(col("__tok"), lit("#"), col("__id")).as(r.pk),
        col("__tok").as("tok"), col("__id").as("doc_id"), col("__n").as("n"))
      engine.publishStream(Seq(t -> admitted, r -> engine.byName(postingRows, r)),
        replay, marks = batchMax.map(r.name -> _).toMap,
        // certified: every table pk is distinct within the batch and
        // above the registry watermark, and every registry pk embeds a
        // batch doc id (tok#id, shingles pre-distinct per doc) — both
        // logs stay unique-pk INSERT-only, so reads keep the flat scan.
        // Arrival-order mode (requireOrdered=false) or duplicate ids in
        // a batch revoke: id reuse across batches would collide pks.
        mutated = if (requireOrdered && batchPkUnique) Set.empty
          else Set(t.name, r.name))
      }
    }
  }
}
