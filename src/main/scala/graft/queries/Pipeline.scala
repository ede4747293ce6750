package graft.queries

import graft.Tables
import graft.exec.Par
import graft.operators.{AsOfJoin, BloomFilterDecontam, Bpe, Components, Decontam, Dedup, Dsir, FullText, HeavyHitters, Mixture, Multimodal, NaiveBayes, Packing, Pca, Web, Perplexity, QualityFilters, Quantize, RangeJoin, Sampling, SemDedup, Similarity, SubstringDedup, TextAnalysis, TextChunking, TrainingOrder, Vocabulary}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.H._

/** Training-data pipeline operators (dedup / similarity / text
  * analysis / multimodal) over the documents + embeddings fixtures,
  * and stream-shaped analytics over the events fixture. Hash-based
  * operators (MinHash/SimHash/LSH) are rows-only checks — their
  * engine hash functions are not SQL-portable — but every derivable
  * statistic has a DuckDB oracle.
  */
object Pipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ----------------------------------------------------------- dedup

  /** Exact dedup groups on a normalized key (first 10 tokens). */
  val qDedupExact = Q(
    "q_dedup_exact",
    """SELECT md5(array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')) AS dup_key,
      |       COUNT(*) AS n_dups, MIN(doc_id) AS first_id
      |FROM documents
      |GROUP BY dup_key
      |ORDER BY first_id""".stripMargin) { (s, dir) =>
    Dedup.exactGroups(t(s, dir, "documents"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 10)))
      .orderBy("first_id")
  }

  /** Word-set Jaccard near-dup pairs via inverted-index join with BOTH
    * hot-token df-caps (relative: tokens in > 80% of docs; absolute:
    * df > 100 — the quadratic-bucket guard that still binds when the
    * corpus is huge). The oracle applies the identical caps. */
  val qJaccardPairs = Q(
    "q_jaccard_pairs",
    """WITH w0 AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents WHERE doc_id < 150),
      |vocab AS (
      |  SELECT word FROM (SELECT word, COUNT(*) AS df FROM w0 GROUP BY word)
      |  WHERE df <= 0.8 * (SELECT COUNT(*) FROM documents WHERE doc_id < 150)
      |    AND df <= 100),
      |w AS (SELECT doc_id, word FROM w0 WHERE word IN (SELECT word FROM vocab)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT d1, d2,
      |       CAST(CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS DOUBLE) AS jacc
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = d1
      |JOIN sizes sb ON sb.doc_id = d2
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Dedup.jaccardPairs(t(s, dir, "documents").where(col("doc_id") < 150),
        0.8, maxDfFrac = 0.8, maxDf = 100L)
      .orderBy("d1", "d2")
  }

  /** An empty-violations oracle: the Spark side emits every row that
    * BREAKS the operator's invariant, the oracle states the matching
    * empty relation — any fabricated candidate, broken ordering, or
    * wrong re-score shows up as rows_match=false. This is the
    * precision-side complement of the q_*_superset recall invariants
    * (whose hash-checked ground truth covers the other direction). */
  private def emptyViolationsSql(cols: (String, String)*): String =
    cols.map { case (n, t) => s"CAST(NULL AS $t) AS $n" }
      .mkString("SELECT ", ", ", " WHERE 1 = 0")

  /** MinHash(16) + LSH(4 bands) candidate pairs, precision side (the
    * recall side is q_minhash_superset): every candidate the banding
    * join emits must (a) keep d1 < d2, (b) collide in between 1 and
    * nBands bands, and (c) share at least one band of equal signature
    * COMPONENTS when the signatures are recomputed independently — a
    * bucket-hash mixup (join on band only, cross-band collision,
    * wrong grouping) fabricates pairs that fail (c). Violations must
    * be empty. */
  val qMinHashLsh = Q(
    "q_minhash_lsh",
    emptyViolationsSql("why" -> "VARCHAR", "d1" -> "BIGINT", "d2" -> "BIGINT")) { (s, dir) =>
    val docs = t(s, dir, "documents").where(col("doc_id") < 300)
    val cands = Dedup.minHashCandidates(docs, 16, 4)
    val sigs = Dedup.minHashSignatures(docs, 16)
    val bandMatches = (0 until 4).map(b =>
      (b * 4 until (b + 1) * 4)
        .map(i => col(s"l.h$i") === col(s"r.h$i")).reduce(_ && _))
    val joined = cands
      .join(sigs.as("l"), col("d1") === col("l.doc_id"))
      .join(sigs.as("r"), col("d2") === col("r.doc_id"))
    val noBand = joined.where(!bandMatches.reduce(_ || _))
      .select(lit("no_matching_band").as("why"), col("d1"), col("d2"))
    val structural = cands.where(
        col("d1") >= col("d2") || col("n_bands") < 1 || col("n_bands") > 4)
      .select(lit("structural").as("why"), col("d1"), col("d2"))
    noBand.unionByName(structural).orderBy("why", "d1", "d2")
  }

  /** Identical-word-set doc pairs within doc_id < 300, ordered by key. */
  private def wordSetTwins(s: SparkSession, dir: String, maxId: Int): DataFrame = {
    val k = t(s, dir, "documents").where(col("doc_id") < maxId)
      .select(col("doc_id"),
        concat_ws("\u001f", array_sort(Dedup.wordSet(col("text")))).as("wkey"))
    k.as("x").join(k.as("y"),
        col("x.wkey") === col("y.wkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
  }

  private def wordSetTwinsSql(maxId: Int): String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |         array_to_string(list_sort(list_distinct(string_split(text, ' '))), chr(31)) AS wkey
       |  FROM documents WHERE doc_id < $maxId)
       |SELECT a.doc_id AS d1, b.doc_id AS d2
       |FROM k a JOIN k b ON a.wkey = b.wkey AND a.doc_id < b.doc_id
       |ORDER BY d1, d2""".stripMargin

  /** LSH recall invariant with a real oracle: docs with identical word
    * sets have identical MinHash signatures, so they collide in every
    * band — semi-joining the SQL-expressible ground-truth twin pairs
    * against the LSH candidates must return exactly the twin pairs
    * (165 at sf0.01). A broken banding/hashing drops rows here. */
  val qMinHashSuperset = Q(
    "q_minhash_superset", wordSetTwinsSql(300)) { (s, dir) =>
    val cands = Dedup.minHashCandidates(
      t(s, dir, "documents").where(col("doc_id") < 300), 16, 4)
    wordSetTwins(s, dir, 300)
      .join(cands.select("d1", "d2"), Seq("d1", "d2"), "left_semi")
      .orderBy("d1", "d2")
  }

  /** SimHash near-dup pairs (Hamming <= 10), precision side (recall is
    * q_simhash_superset): every emitted pair must keep d1 < d2, report
    * dist <= 10, and its dist must EQUAL the Hamming distance of the
    * independently recomputed 64-bit signatures — a bucketing or
    * re-score bug emits a pair that fails one of the three. Violations
    * must be empty. */
  val qSimHash = Q(
    "q_simhash",
    emptyViolationsSql("why" -> "VARCHAR", "d1" -> "BIGINT", "d2" -> "BIGINT")) { (s, dir) =>
    val docs = t(s, dir, "documents").where(col("doc_id") < 150)
    val pairs = Dedup.simHashPairs(docs, 10)
    val sigs = Dedup.simHash(docs)
    val joined = pairs
      .join(sigs.select(col("doc_id").as("d1"), col("simhash").as("_s1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("simhash").as("_s2")), "d2")
    val wrongDist = joined.where(
        col("dist") =!= bit_count(col("_s1").bitwiseXOR(col("_s2"))))
      .select(lit("dist_mismatch").as("why"), col("d1"), col("d2"))
    val structural = pairs.where(col("d1") >= col("d2") || col("dist") > 10)
      .select(lit("structural").as("why"), col("d1"), col("d2"))
    wrongDist.unionByName(structural).orderBy("why", "d1", "d2")
  }

  /** SimHash invariant with a real oracle: identical word sets hash to
    * identical SimHash values (distance 0), so every ground-truth twin
    * pair must survive the bit-block candidate join + rescore. */
  val qSimHashSuperset = Q(
    "q_simhash_superset", wordSetTwinsSql(150)) { (s, dir) =>
    val pairs = Dedup.simHashPairs(
      t(s, dir, "documents").where(col("doc_id") < 150), 10)
    wordSetTwins(s, dir, 150)
      .join(pairs.select("d1", "d2"), Seq("d1", "d2"), "left_semi")
      .orderBy("d1", "d2")
  }

  // ------------------------------------------------------ similarity

  /** Brute-force cosine top-5 neighbors for 10 query vectors. */
  val qAnnCosine = Q(
    "q_ann_cosine",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |scored AS (
      |  SELECT qid, cid,
      |         CAST(FLOOR(list_cosine_similarity(qv, cv) * 1e5 + 0.5)
      |              AS BIGINT) AS sim_e5
      |  FROM c CROSS JOIN q WHERE qid <> cid),
      |ranked AS (
      |  SELECT qid, cid, sim_e5,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_e5 DESC, cid) AS rank
      |  FROM scored)
      |SELECT qid, cid, rank, sim_e5 FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb, 5)
      .orderBy("qid", "rank")
  }

  /** LSH-bucketed ANN (scale path; recall < 1 so the neighbor SET is
    * not oracle-fixable) — precision side: every returned (qid, cid,
    * sim) must appear in the exact all-pairs cosine scoring (the
    * bucket join may PRUNE pairs, never fabricate or mis-score one —
    * and q_ann_cosine separately proves the scoring is bit-identical
    * to DuckDB's), and each query's ranked list must be ordered with
    * consecutive ranks. Violations must be empty. */
  val qAnnLsh = Q(
    "q_ann_lsh",
    emptyViolationsSql("why" -> "VARCHAR", "qid" -> "BIGINT", "cid" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    annPrecisionViolations(emb.where(col("vec_id") < 10), emb,
      Similarity.lshTopK(emb.where(col("vec_id") < 10), emb, 5, 8), 5)
  }

  /** Shared precision harness for the approximate ANN variants: rows
    * of `res` whose ids are not real query/corpus vectors or whose sim
    * is not the true exact cosine (recomputed per RESULT row — linear
    * in |res|, never the quadratic exact pair set; the validation must
    * scale like the operator it validates), plus ranking-shape
    * violations. private[graft] so the spec can prove the harness
    * actually fires on a doctored result (a vacuous check would pass
    * the empty oracle forever). */
  private[graft] def annPrecisionViolations(queries: DataFrame, corpus: DataFrame,
      res: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val fabricated = res
      .join(broadcast(q), Seq("qid"), "left")
      .join(c, Seq("cid"), "left")
      .where(col("qv").isNull || col("cv").isNull || col("qid") === col("cid") ||
        col("sim_e5") =!= floor(graft.operators.Similarity.cosine(
          col("qv"), col("cv")) * lit(1e5) + lit(0.5)))
      .select(lit("fabricated_or_misscored").as("why"), col("qid"), col("cid"))
    val w = Window.partitionBy("qid").orderBy(col("rank"))
    val shape = res
      .withColumn("_prev_sim", lag(col("sim_e5"), 1).over(w))
      .withColumn("_prev_rank", lag(col("rank"), 1).over(w))
      .where(col("rank") < 1 || col("rank") > k ||
        (col("_prev_rank").isNotNull &&
          (col("rank") =!= col("_prev_rank") + 1 || col("sim_e5") > col("_prev_sim"))))
      .select(lit("rank_shape").as("why"), col("qid"), col("cid"))
    fabricated.unionByName(shape).orderBy("why", "qid", "cid")
  }

  /** End-to-end training-data pipeline: quality filter (token count +
    * type-token ratio from TextAnalysis) → exact dedup (survivor = min
    * doc_id per content digest) → surviving docs. The composition every
    * corpus-prep job runs, expressed as one lazy DataFrame chain —
    * Catalyst fuses the metric projection into the scan, and the dedup
    * is one digest shuffle. The oracle recomputes the same pipeline
    * algebraically. */
  val qPipelineE2E = Q(
    "q_pipeline_e2e",
    """WITH m AS (
      |  SELECT doc_id, text,
      |         len(string_split(text, ' ')) AS n_tokens,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |           / len(string_split(text, ' ')) AS ttr
      |  FROM documents),
      |kept AS (SELECT doc_id, text FROM m WHERE n_tokens >= 30 AND ttr >= 0.4),
      |surv AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text))
      |SELECT k.doc_id, length(k.text) AS n_chars
      |FROM kept k JOIN surv s ON k.doc_id = s.doc_id
      |ORDER BY k.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val kept = docs.join(
      TextAnalysis.qualityMetrics(docs, Seq("the", "a"))
        .where(col("n_tokens") >= 30 && col("ttr") >= 0.4)
        .select("doc_id"),
      "doc_id")
    val survivors = kept.groupBy(md5(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"))
    kept.join(survivors.select("doc_id"), "doc_id")
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy("doc_id")
  }

  /** n-gram (3-word shingle) Jaccard near-dups over the full corpus —
    * shingles see word order, the standard upgrade from set Jaccard.
    * Same inverted-index join and df-caps; the oracle builds identical
    * '_'-joined shingles with list_transform. */
  val qShingleJaccard = Q(
    "q_shingle_jaccard",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], '_')))) AS tok
      |  FROM d),
      |nd AS (SELECT COUNT(*) AS n FROM d),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM sh GROUP BY tok)
      |  WHERE df <= 0.8 * (SELECT n FROM nd) AND df <= 100),
      |t AS (SELECT doc_id, tok FROM sh WHERE tok IN (SELECT tok FROM vocab)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2,
      |       CAST(CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS DOUBLE) AS jacc
      |FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Dedup.shingleJaccardPairs(t(s, dir, "documents"), 3, 0.5,
        maxDfFrac = 0.8, maxDf = 100L)
      .orderBy("d1", "d2")
  }

  /** Near-dup CLUSTERS: the shingle-Jaccard pairs closed into
    * connected components (Components.scala), every document assigned
    * a cluster id (= min doc_id of its component, own id for
    * singletons) and a canonical flag — the "which copy do we keep"
    * step of a dedup pipeline. The oracle recomputes the same pairs,
    * then closes them with a recursive CTE and min-label per vertex,
    * so a wrong merge or a missed transitive link diverges the hash. */
  val qDupClusters = Q(
    "q_dup_clusters",
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], '_')))) AS tok
      |  FROM d),
      |nd AS (SELECT COUNT(*) AS n FROM d),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM sh GROUP BY tok)
      |  WHERE df <= 0.8 * (SELECT n FROM nd) AND df <= 100),
      |t AS (SELECT doc_id, tok FROM sh WHERE tok IN (SELECT tok FROM vocab)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2
      |  FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
      |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
      |          UNION SELECT d2, d1 FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a)
      |SELECT doc_id, COALESCE(c.component, doc_id) AS cluster_id,
      |       doc_id = COALESCE(c.component, doc_id) AS is_canonical
      |FROM documents LEFT JOIN comp c ON documents.doc_id = c.id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = Dedup.shingleJaccardPairs(docs, 3, 0.5,
      maxDfFrac = 0.8, maxDf = 100L)
    val comps = Components.connectedComponents(pairs.select("d1", "d2"))
      .withColumnRenamed("id", "doc_id")
    docs.join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** The DROP step: the deduplicated corpus itself — one canonical
    * document per near-dup cluster (min doc_id), singletons kept,
    * each survivor annotated with its cluster size (the repeat count
    * downstream sampling weights by). The oracle recomputes pairs +
    * recursive-CTE closure + the same keep-min-per-cluster fold, so a
    * dropped singleton, a kept duplicate, or a wrong size diverges. */
  val qDedupKeep = Q(
    "q_dedup_keep",
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], '_')))) AS tok
      |  FROM d),
      |nd AS (SELECT COUNT(*) AS n FROM d),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM sh GROUP BY tok)
      |  WHERE df <= 0.8 * (SELECT n FROM nd) AND df <= 100),
      |t AS (SELECT doc_id, tok FROM sh WHERE tok IN (SELECT tok FROM vocab)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2
      |  FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
      |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
      |          UNION SELECT d2, d1 FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
      |cl AS (
      |  SELECT doc_id, COALESCE(c.component, doc_id) AS cluster_id
      |  FROM documents LEFT JOIN comp c ON documents.doc_id = c.id),
      |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY cluster_id)
      |SELECT d.doc_id, d.lang, d.n_chars, sz.cluster_size
      |FROM documents d
      |JOIN cl ON d.doc_id = cl.doc_id AND d.doc_id = cl.cluster_id
      |JOIN sz ON cl.cluster_id = sz.cluster_id
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = Dedup.shingleJaccardPairs(docs, 3, 0.5,
      maxDfFrac = 0.8, maxDf = 100L)
    Components.keepCanonical(
        docs.select("doc_id", "lang", "n_chars"), "doc_id", pairs)
      .select("doc_id", "lang", "n_chars", "cluster_size")
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup pairs, exact baseline (oracle-checked
    * bit-exact against DuckDB's cosine). */
  val qEmbedNearDup = Q(
    "q_embed_neardup",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 200)
      |SELECT a.vec_id AS d1, b.vec_id AS d2,
      |       CAST(FLOOR(list_cosine_similarity(a.v, b.v) * 1e5 + 0.5)
      |            AS BIGINT) AS sim_e5
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE FLOOR(list_cosine_similarity(a.v, b.v) * 1e5 + 0.5) >= 33000
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Dedup.cosineNearDupPairs(
        t(s, dir, "embeddings").where(col("vec_id") < 200), 0.33)
      .orderBy("d1", "d2")
  }

  /** LSH-prefiltered cosine near-dups (scale path; recall < 1 so the
    * pair set is not oracle-fixable) — precision side: the bucket
    * prefilter prunes candidates but never changes scores, so every
    * emitted pair must ALSO be in the exact full-quadratic pair set at
    * the same threshold (candidates ⊆ exact pairs, the same direction
    * q_ann_ivf_full proves for IVF). Violations must be empty. */
  val qEmbedNearDupLsh = Q(
    "q_embed_neardup_lsh",
    emptyViolationsSql("why" -> "VARCHAR", "d1" -> "BIGINT", "d2" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val lsh = Dedup.cosineNearDupPairs(emb, 0.3, lshBits = 6)
    // per-pair recompute (linear in |lsh|), not the quadratic exact
    // pair set: a pair is exact iff both ids are real vectors, d1 < d2,
    // and its sim equals the true cosine at/over the threshold
    lsh
      .join(emb.select(col("vec_id").as("d1"), col("embedding").as("_e1")), Seq("d1"), "left")
      .join(emb.select(col("vec_id").as("d2"), col("embedding").as("_e2")), Seq("d2"), "left")
      .where(col("_e1").isNull || col("_e2").isNull || col("d1") >= col("d2") ||
        col("sim_e5") < 30000L ||
        col("sim_e5") =!= floor(graft.operators.Similarity.cosine(
          col("_e1"), col("_e2")) * lit(1e5) + lit(0.5)))
      .select(lit("not_an_exact_pair").as("why"), col("d1"), col("d2"))
      .orderBy("d1", "d2")
  }

  /** SemDeDup (SemDedup.dedup): k-means clusters bound the pairwise
    * stage, then lowest-id-wins cosine pruning within each cluster.
    * Empty-violations oracle over an independently recomputed witness
    * set: every dropped vector must have a lower-id clustermate
    * at/over the threshold, no survivor may have one, survivor labels
    * must match the (deterministic) assignment, and the fixture must
    * actually drop something.
    *
    * Round 17: the second scaling decade (sf1→sf10, SCALE.md)
    * measured THIS query super-linear (α ≈ 1.5). Two quadratics
    * stacked: fixed k=16 let per-cluster membership grow linearly
    * (pairwise stage N²/k), and the naive counter-move — k ∝ N with
    * FLAT k-means — just moves the N² into the assignment (N·k
    * cosine evaluations; stage-profiled as the dominant cost). The
    * fix matches the operator contract on both axes: k scales with
    * the corpus (expected cluster ≈ 500 members, pairwise ≈ N·500),
    * assignment goes through kmeansAuto (round 18: flat below the
    * measured N·k crossover — reclaiming the fixture-scale cost the
    * r17 always-two-level form paid — and the log-depth kmeansTree
    * above it, N·O(log k) kernels per pass at any k),
    * maxClusterSize = 2048 stands as the SKEW backstop only, and the
    * frames feeding multiple invariant branches pin. At the fixture
    * scales (≤ 8k vectors) k stays 16 and no cluster nears the cap,
    * so small-scale behavior — and the oracle — are unchanged.
    * Invariants verify against the RE-SPLIT assignment (the one the
    * drops were computed under). */
  val qSemDedup = Q(
    "q_semdedup",
    emptyViolationsSql("why" -> "VARCHAR", "vec_id" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val k = math.max(16, (emb.count() / 500).toInt)
    // pinned: the assignment feeds the dedup AND every invariant
    // branch; surv and the witness set feed FOUR branches each, so
    // they pin too (unpinned, each branch re-ran the pairwise join)
    val assign0 = Similarity.kmeansAuto(emb, k, iters = 2)
      .localCheckpoint()
    val assign = SemDedup.resplitOversized(emb, assign0, cap = 2048,
      iters = 2).localCheckpoint()
    val surv = SemDedup.dedup(emb, k, iters = 2, minCos = 0.4,
      precomputed = Some(assign)).localCheckpoint()
    val m = emb.select(col("vec_id"), col("embedding")).join(assign, "vec_id")
    val shouldDrop = SemDedup.candidateDrops(m, 0.4).localCheckpoint()
    val droppedActual = emb.select("vec_id")
      .join(surv.select("vec_id"), Seq("vec_id"), "left_anti")
    val orphanDrop = droppedActual
      .join(shouldDrop, Seq("vec_id"), "left_anti")
      .select(lit("dropped_without_witness").as("why"), col("vec_id"))
    val falseKeep = surv.select("vec_id").join(shouldDrop, Seq("vec_id"))
      .select(lit("survivor_with_witness").as("why"), col("vec_id"))
    val labelMismatch = surv
      .join(assign.withColumnRenamed("cluster", "__c"), "vec_id")
      .where(col("cluster") =!= col("__c"))
      .select(lit("cluster_label_mismatch").as("why"), col("vec_id"))
    val degenerate = surv.agg(count(lit(1)).as("_n"))
      .crossJoin(emb.agg(count(lit(1)).as("_m")))
      .where(col("_n") === col("_m") || col("_n") === 0)
      .select(lit("nothing_dropped_or_all_dropped").as("why"),
        lit(-1L).as("vec_id"))
    orphanDrop.unionByName(falseKeep).unionByName(labelMismatch)
      .unionByName(degenerate).orderBy("why", "vec_id")
  }

  /** Cluster-balanced (diversity) sampling: the kmeans + exactK
    * composition the kmeans scaladoc promises — up to 5 vectors per
    * semantic cluster, deterministically keyed. Invariants: every
    * cluster contributes exactly min(5, its size) vectors, every
    * sampled row is a real member of its cluster, and the sample is
    * non-degenerate. (exactK's rank arithmetic itself is oracled by
    * q_sample_exact_k; kmeans by q_kmeans/q_kmeans_full.) */
  val qDiversitySample = Q(
    "q_diversity_sample",
    emptyViolationsSql("why" -> "VARCHAR", "vec_id" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val assign = Similarity.kmeans(emb, k = 16, iters = 2).localCheckpoint()
    val sample = Sampling.exactK(assign, col("vec_id"), col("cluster"), 5)
    val sizes = assign.groupBy("cluster").agg(count(lit(1)).as("_n"))
    val picked = sample.groupBy("cluster").agg(count(lit(1)).as("_p"))
    val badCount = sizes.join(picked, Seq("cluster"), "left")
      .where(coalesce(col("_p"), lit(0L)) =!= least(col("_n"), lit(5L)))
      .select(lit("wrong_per_cluster_count").as("why"),
        col("cluster").as("vec_id"))
    val alien = sample.select("vec_id", "cluster")
      .join(assign, Seq("vec_id", "cluster"), "left_anti")
      .select(lit("not_a_member").as("why"), col("vec_id"))
    val degenerate = sample.agg(count(lit(1)).as("_c"))
      .where(col("_c") === 0)
      .select(lit("empty_sample").as("why"), lit(-1L).as("vec_id"))
    badCount.unionByName(alien).unionByName(degenerate)
      .orderBy("why", "vec_id")
  }

  /** IVF ANN with every cell probed (nprobe = nlist): disjoint cells
    * mean each pair is scored exactly once, so the result must equal
    * exact brute force — the oracle proves the whole quantize → probe →
    * re-score machinery loses nothing. */
  val qAnnIvfFull = Q(
    "q_ann_ivf_full",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id >= 10 AND vec_id < 20),
      |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |scored AS (
      |  SELECT qid, cid,
      |         CAST(FLOOR(list_cosine_similarity(qv, cv) * 1e5 + 0.5)
      |              AS BIGINT) AS sim_e5
      |  FROM c CROSS JOIN q WHERE qid <> cid),
      |ranked AS (
      |  SELECT qid, cid, sim_e5,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_e5 DESC, cid) AS rank
      |  FROM scored)
      |SELECT qid, cid, rank, sim_e5 FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.where(col("vec_id") >= 10 && col("vec_id") < 20),
        emb, 5, nlist = 16, nprobe = 16)
      .orderBy("qid", "rank")
  }

  /** IVF ANN in production shape (nprobe = 2 of 16 cells, candidate
    * volume ~1/8th of brute force; recall < 1 so the neighbor set is
    * not oracle-fixable) — precision side, same harness as q_ann_lsh:
    * probing fewer cells prunes candidates, never fabricates or
    * mis-scores one (q_ann_ivf_full proves the nprobe = nlist case
    * equals brute force exactly). Violations must be empty. */
  val qAnnIvf = Q(
    "q_ann_ivf",
    emptyViolationsSql("why" -> "VARCHAR", "qid" -> "BIGINT", "cid" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val qs = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
    annPrecisionViolations(qs, emb,
      Similarity.ivfTopK(qs, emb, 5, nlist = 16, nprobe = 2), 5)
  }

  /** k-means with k = N (every vector seeds its own centroid) is a
    * FIXED POINT: each point's nearest centroid is itself — or, for
    * exact-duplicate embeddings, the lowest id of the identical group
    * (the deterministic tie-break) — and recomputed centroids stay on
    * the same directions, so any iteration count returns the same
    * assignment. That makes the full case exactly SQL-expressible,
    * proving the whole seed → assign → recompute → reassign machinery
    * (the q_ann_ivf_full pattern applied to clustering). */
  val qKmeansFull = Q(
    "q_kmeans_full",
    """SELECT vec_id,
      |       MIN(vec_id) OVER (PARTITION BY CAST(embedding AS DOUBLE[])) AS cluster
      |FROM embeddings WHERE vec_id < 200
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings").where(col("vec_id") < 200)
    Similarity.kmeans(emb, k = 200, iters = 2).orderBy("vec_id")
  }

  /** Production-shape k-means (k = 16, 2 Lloyd iterations) for
    * cluster-balanced curation — structural invariants as an
    * empty-violations oracle: every vector is assigned exactly once,
    * every label is one of the k deterministic seed ids, and the
    * clustering actually separates the corpus (> 1 cluster in use). */
  val qKmeans = Q(
    "q_kmeans",
    emptyViolationsSql("why" -> "VARCHAR", "vec_id" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val res = Similarity.kmeans(emb, k = 16, iters = 2)
    val seeds = emb.orderBy("vec_id").limit(16).select(col("vec_id").as("cluster"))
    val badLabel = res.join(seeds, Seq("cluster"), "left_anti")
      .select(lit("label_not_a_seed").as("why"), col("vec_id"))
    val missing = emb.select("vec_id")
      .join(res.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(lit("vector_unassigned").as("why"), col("vec_id"))
    val dup = res.groupBy("vec_id").agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(lit("assigned_twice").as("why"), col("vec_id"))
    val degenerate = res.agg(countDistinct(col("cluster")).as("_k"))
      .where(col("_k") <= 1)
      .select(lit("degenerate_single_cluster").as("why"),
        lit(-1L).as("vec_id"))
    badLabel.unionByName(missing).unionByName(dup).unionByName(degenerate)
      .orderBy("why", "vec_id")
  }

  /** Two-level k-means (round 17 — the scalable assignment shape:
    * coarse √k, then √k fine centroids per cell, N·2√k cosine
    * evaluations per pass where flat k-means pays N·k; see SCALE.md's
    * second-decade finding). Structural invariants as an
    * empty-violations oracle: every vector assigned exactly once,
    * every label is a REAL corpus vec_id belonging to the SAME coarse
    * cell as the vector it labels (the fine assignment never crosses
    * the frozen coarse partition — recomputed independently here),
    * the run is deterministic, and the clustering separates the
    * corpus. */
  val qKmeansTwoLevel = Q(
    "q_kmeans_twolevel",
    emptyViolationsSql("why" -> "VARCHAR", "vec_id" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    // the three model constructions (result clustering, the
    // determinism re-run below, the frozen coarse partition
    // re-derived independently: kc = ceil(sqrt(16)) = 4) are
    // independent serial chains of driver-blocking Lloyd collects —
    // build them concurrently (§2.6); each is deterministic, so the
    // overlap cannot change any value
    val Seq(res, coarse, res2) = Par.all(s.sparkContext, Seq[() => DataFrame](
      () => Similarity.kmeansTwoLevel(emb, k = 16, iters = 2)
        .localCheckpoint(),
      () => Similarity.kmeans(emb, k = 4, iters = 2)
        .withColumnRenamed("cluster", "cell").localCheckpoint(),
      () => Similarity.kmeansTwoLevel(emb, k = 16, iters = 2)
        .withColumnRenamed("cluster", "__c2")))(_())
    val missing = emb.select("vec_id")
      .join(res.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(lit("vector_unassigned").as("why"), col("vec_id"))
    val dup = res.groupBy("vec_id").agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(lit("assigned_twice").as("why"), col("vec_id"))
    val badLabel = res.join(
        emb.select(col("vec_id").as("cluster")), Seq("cluster"), "left_anti")
      .select(lit("label_not_a_corpus_id").as("why"), col("vec_id"))
    // cross-cell label: the vector's cell must equal its label's cell
    val crossCell = res.join(coarse, "vec_id")
      .join(coarse.select(col("vec_id").as("cluster"),
        col("cell").as("__labelCell")), "cluster")
      .where(col("cell") =!= col("__labelCell"))
      .select(lit("label_crosses_coarse_cell").as("why"), col("vec_id"))
    val nondet = res.join(res2, "vec_id")
      .where(col("cluster") =!= col("__c2"))
      .select(lit("nondeterministic").as("why"), col("vec_id"))
    val degenerate = res.agg(countDistinct(col("cluster")).as("_k"))
      .where(col("_k") <= 1)
      .select(lit("degenerate_single_cluster").as("why"),
        lit(-1L).as("vec_id"))
    missing.unionByName(dup).unionByName(badLabel).unionByName(crossCell)
      .unionByName(nondet).unionByName(degenerate)
      .orderBy("why", "vec_id")
  }

  /** Log-depth k-means quantization tree (round 18 — the 100 TB
    * assignment shape SCALE.md named: N·fan·depth = N·O(log k)
    * cosine kernels where flat pays N·k and two-level N·2√k). Run at
    * branch = 3, k = 27 → a genuine depth-3 tree (fan 3) on the
    * fixture. Structural invariants as an empty-violations oracle:
    * every vector assigned exactly once, every label a REAL corpus
    * vec_id in the SAME level-1 cell as the vector it labels (the
    * root partition is frozen while deeper levels refine, and the
    * tree's level 1 is bit-identical to flat kmeans at k = fan —
    * recomputed independently here), deterministic across runs, and
    * the clustering separates the corpus. */
  val qKmeansTree = Q(
    "q_kmeans_tree",
    emptyViolationsSql("why" -> "VARCHAR", "vec_id" -> "BIGINT")) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    // same §2.6 overlap as q_kmeans_twolevel: result tree, the
    // determinism re-run, and the independently re-derived frozen
    // root partition (fan = 3) are independent Lloyd-collect chains
    val Seq(res, coarse, res2) = Par.all(s.sparkContext, Seq[() => DataFrame](
      () => Similarity.kmeansTree(emb, k = 27, iters = 2, branch = 3)
        .localCheckpoint(),
      () => Similarity.kmeans(emb, k = 3, iters = 2)
        .withColumnRenamed("cluster", "cell").localCheckpoint(),
      () => Similarity.kmeansTree(emb, k = 27, iters = 2, branch = 3)
        .withColumnRenamed("cluster", "__c2")))(_())
    val missing = emb.select("vec_id")
      .join(res.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(lit("vector_unassigned").as("why"), col("vec_id"))
    val dup = res.groupBy("vec_id").agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(lit("assigned_twice").as("why"), col("vec_id"))
    val badLabel = res.join(
        emb.select(col("vec_id").as("cluster")), Seq("cluster"), "left_anti")
      .select(lit("label_not_a_corpus_id").as("why"), col("vec_id"))
    val crossCell = res.join(coarse, "vec_id")
      .join(coarse.select(col("vec_id").as("cluster"),
        col("cell").as("__labelCell")), "cluster")
      .where(col("cell") =!= col("__labelCell"))
      .select(lit("label_crosses_root_cell").as("why"), col("vec_id"))
    val nondet = res.join(res2, "vec_id")
      .where(col("cluster") =!= col("__c2"))
      .select(lit("nondeterministic").as("why"), col("vec_id"))
    val degenerate = res.agg(countDistinct(col("cluster")).as("_k"))
      .where(col("_k") <= 1)
      .select(lit("degenerate_single_cluster").as("why"),
        lit(-1L).as("vec_id"))
    missing.unionByName(dup).unionByName(badLabel).unionByName(crossCell)
      .unionByName(nondet).unionByName(degenerate)
      .orderBy("why", "vec_id")
  }

  // --------------------------------------------------- text analysis

  /** Token/quality metrics per document — all engine-exact ratios. */
  val qTextQuality = Q(
    "q_text_quality",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |  CAST(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |       / len(string_split(text, ' ')) AS DOUBLE) AS ttr,
      |  CAST(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |       / len(string_split(text, ' ')) AS DOUBLE) AS avg_tok_len,
      |  CAST(CAST(len(list_filter(string_split(text, ' '),
      |                 x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |       / len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.qualityMetrics(t(s, dir, "documents"), Seq("the", "a"))
      .orderBy("doc_id")
  }

  /** Marker-scored language-ID heuristic vs the labeled lang column. */
  val qLangId = Q(
    "q_lang_id",
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS s_en,
      |    len(list_filter(string_split(text, ' '), x -> x = 'data' OR x = 'value')) AS s_es,
      |    len(list_filter(string_split(text, ' '), x -> x = 'spark' OR x = 'table')) AS s_de
      |  FROM documents),
      |pred AS (
      |  SELECT lang,
      |         CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
      |              WHEN s_es >= s_de THEN 'es'
      |              ELSE 'de' END AS pred
      |  FROM scored)
      |SELECT pred, lang, COUNT(*) AS n
      |FROM pred GROUP BY pred, lang
      |ORDER BY pred, lang""".stripMargin) { (s, dir) =>
    TextAnalysis.langId(t(s, dir, "documents"), Seq(
        "en" -> Seq("the", "a"),
        "es" -> Seq("data", "value"),
        "de" -> Seq("spark", "table")))
      .groupBy("pred", "lang").agg(count(lit(1)).as("n"))
      .orderBy("pred", "lang")
  }

  /** Global token frequency top-30. */
  val qTokenStats = Q(
    "q_token_stats",
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 30""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(30)
  }

  /** Per-document OOV coverage against the corpus top-25 vocabulary
    * (Vocabulary.oovStats — tokenizer coverage analysis). The
    * vocabulary is a bounded driver-side literal (exactly k strings),
    * so the per-document pass is pure scan-stage codegen: zero corpus
    * joins, explodes, or shuffles. */
  val qVocabOov = Q(
    "q_vocab_oov",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |vc AS (
      |  SELECT term FROM (
      |    SELECT term, COUNT(*) AS n FROM toks GROUP BY term
      |    ORDER BY n DESC, term LIMIT 25)),
      |st AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |         CAST(SUM(CASE WHEN term IN (SELECT term FROM vc)
      |                       THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
      |  FROM toks GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_oov,
      |       (2 * n_oov * 1000000000 + n_tokens) // (2 * n_tokens) AS oov_ratio_e9
      |FROM st ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Vocabulary.oovStats(t(s, dir, "documents"), 25).orderBy("doc_id")
  }

  /** Per-document top-3 TF-IDF keywords (Vocabulary.tfidfKeywords):
    * tf * ln(N/df), ranked score DESC then term ASC. The rank runs
    * inside each document's own aggregated term array — no corpus-wide
    * window sort. */
  val qTfidfKeywords = Q(
    "q_tfidf_keywords",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |         CAST(FLOOR(CAST(tf AS DOUBLE) * ln(n_docs / df) * 1e9 + 0.5)
      |              AS BIGINT) AS score_e9
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT doc_id, term, score_e9,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY score_e9 DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, score_e9 FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
    Vocabulary.tfidfKeywords(t(s, dir, "documents"), 3)
      .orderBy("doc_id", "rank")
  }

  /** Exact-substring dedup spans (SubstringDedup.duplicatedSpans, Lee
    * et al. 2022): maximal cut intervals over corpus-duplicated
    * 8-gram runs, keep-first. The oracle re-derives the same spans
    * with window-function gaps-and-islands; the Spark side merges
    * inside each document's own sorted position array instead. */
  val qSubstringDedup = Q(
    "q_substring_dedup",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |occ AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(t[i:i+7], ' ') AS gram
      |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
      |  WHERE len(t) >= 8),
      |st AS (
      |  SELECT doc_id, pos,
      |         COUNT(*) OVER (PARTITION BY gram) AS df,
      |         ROW_NUMBER() OVER (PARTITION BY gram
      |                            ORDER BY doc_id, pos) AS rk
      |  FROM occ),
      |cut AS (SELECT doc_id, pos FROM st WHERE df >= 2 AND rk > 1),
      |lagged AS (
      |  SELECT doc_id, pos,
      |         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM cut),
      |isl AS (
      |  SELECT doc_id, pos,
      |         SUM(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM lagged)
      |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    SubstringDedup.duplicatedSpans(t(s, dir, "documents"), 8)
      .orderBy("doc_id", "span_start")
  }

  /** DSIR importance weights (Dsir.logWeights): hashed bag-of-words
    * log-likelihood ratio of a target corpus model vs the raw model,
    * add-1 smoothed over 16 md5-hex buckets. Scoring is pure
    * scan-stage (the 16 log-ratios fold in as a literal array); the
    * oracle recomputes the identical arithmetic, md5 buckets and all. */
  val qDsir = Q(
    "q_dsir",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |b AS (SELECT doc_id,
      |        strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1 AS bk
      |      FROM toks),
      |tc AS (SELECT bk, COUNT(*) AS c FROM b WHERE doc_id % 20 = 0 GROUP BY bk),
      |rc AS (SELECT bk, COUNT(*) AS c FROM b WHERE doc_id % 20 <> 0 GROUP BY bk),
      |nt AS (SELECT COUNT(*) AS n FROM b WHERE doc_id % 20 = 0),
      |nr AS (SELECT COUNT(*) AS n FROM b WHERE doc_id % 20 <> 0),
      |lr AS (
      |  SELECT g.bk,
      |         ln((COALESCE(tc.c, 0) + 1.0) / (nt.n + 16)) -
      |         ln((COALESCE(rc.c, 0) + 1.0) / (nr.n + 16)) AS v
      |  FROM (SELECT unnest(generate_series(0, 15)) AS bk) g
      |  LEFT JOIN tc USING (bk) LEFT JOIN rc USING (bk)
      |  CROSS JOIN nt CROSS JOIN nr),
      |sc AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |         CAST(FLOOR(SUM(v) * 1e6 + 0.5) AS BIGINT) AS logw_e6
      |  FROM b JOIN lr USING (bk) WHERE doc_id % 20 <> 0
      |  GROUP BY doc_id)
      |SELECT doc_id, n_tokens, logw_e6 FROM sc
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    Dsir.logWeights(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0))
      .orderBy("doc_id")
  }

  /** HTML text extraction (Web.extractHtmlText — the CCNet stage-1
    * primitive): markup synthesized deterministically around each
    * document's text, then script/style/comment blocks dropped, tags
    * stripped, entities decoded (&amp; last), whitespace collapsed.
    * Pure scan-stage regex in the java.regex ∩ RE2 subset — the
    * oracle mirrors every pass (DuckDB regexp_replace needs the 'g'
    * flag; Spark's is global by default). */
  val qHtmlExtract = Q(
    "q_html_extract",
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><title>' || source || '</title>' ||
      |    '<script type="text/javascript">var x = 1 && 2;</script>' ||
      |    '<style>p { color: red; }</style></head>' ||
      |    '<body><!-- nav --><h1>Doc ' || doc_id || '</h1><p>' ||
      |    text || ' &amp; more</p></body></html>' AS html
      |  FROM documents),
      |x AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |            '(?s)<!--.*?-->', ' ', 'g'),
      |          '<[^>]+>', ' ', 'g'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |      '\s+', ' ', 'g')) AS extracted
      |  FROM h)
      |SELECT doc_id, extracted FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val html = concat(
      lit("<html><head><title>"), col("source"), lit("</title>"),
      lit("<script type=\"text/javascript\">var x = 1 && 2;</script>"),
      lit("<style>p { color: red; }</style></head>"),
      lit("<body><!-- nav --><h1>Doc "), col("doc_id"), lit("</h1><p>"),
      col("text"), lit(" &amp; more</p></body></html>"))
    docs.select(col("doc_id"), Web.extractHtmlText(html).as("extracted"))
      .orderBy("doc_id")
  }

  /** URL canonicalization (Web.urlKey + Web.domainOf): noisy URLs —
    * upper-cased scheme/host, explicit default port, trailing slash,
    * unordered query with utm and fbclid tracking params, fragment —
    * collapse to one dedup key; params are sorted, the domain key is
    * the last two host labels. Scan-stage regex + array ops. */
  val qUrlNormalize = Q(
    "q_url_normalize",
    """WITH u AS (
      |  SELECT doc_id,
      |    'HTTPS://WWW.' || source || '.Example.COM:443/Path/' ||
      |    (doc_id % 5) || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
      |    '?b=2&utm_source=x&a=1&fbclid=zz' ||
      |    CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[^:]+://([^/?#]+)', 1)) AS hostport,
      |    regexp_extract(url, '^[^:]+://[^/?#]+([^?#]*)', 1) AS rawpath,
      |    regexp_extract(url, '\?([^#]*)', 1) AS query
      |  FROM u),
      |norm AS (
      |  SELECT doc_id, scheme,
      |    CASE WHEN (scheme = 'http' AND hostport LIKE '%:80')
      |           OR (scheme = 'https' AND hostport LIKE '%:443')
      |         THEN regexp_replace(hostport, ':[0-9]+$', '')
      |         ELSE hostport END AS host,
      |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
      |         ELSE regexp_replace(rawpath, '/+$', '') END AS path,
      |    array_to_string(list_sort(list_filter(string_split(query, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(?i)(utm_[a-zA-Z_]+|fbclid|gclid)='))), '&') AS kept
      |  FROM parts)
      |SELECT doc_id,
      |  scheme || '://' || host || path ||
      |    CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS url_key,
      |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
      |FROM norm ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val url = concat(
      lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/Path/"),
      col("doc_id") % 5,
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?b=2&utm_source=x&a=1&fbclid=zz"),
      when(col("doc_id") % 3 === 0, lit("#frag")).otherwise(lit("")))
    val key = Web.urlKey(url)
    docs.select(col("doc_id"), key.as("url_key"),
        Web.domainOf(regexp_extract(key, "^[^:]+://([^/?#]+)", 1)).as("domain"))
      .orderBy("doc_id")
  }

  /** PCA covariance (Pca.covariance — the distributed half of the
    * SemDeDup-style PCA-reduce stage): upper-triangle population
    * covariance of the 64-dim embeddings. Per-pair products
    * floor-scale to e12 integers and sum as DECIMAL, so the
    * aggregation is addition-order-free, and the covariance surfaces
    * as the floor-scaled e9 BIGINT `cov_e9` — deterministic IEEE ops
    * only (multiply, add, floor), never engine `ROUND(double,n)`,
    * which differs in the last ulp across engines/versions. The
    * oracle mirrors every cast and op order. The keyspace is
    * d(d+1)/2 entries at any corpus size. */
  val qPcaCov = Q(
    "q_pca_cov",
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
      |prods AS (
      |  SELECT p.i, p.j,
      |         SUM(CAST(FLOOR(CAST(e.embedding[p.i] AS DOUBLE) *
      |                        CAST(e.embedding[p.j] AS DOUBLE) * 1e12 + 0.5)
      |             AS DECIMAL(38,0))) AS sxy
      |  FROM embeddings e,
      |       (SELECT a.i AS i, b.i AS j FROM idx a, idx b WHERE b.i >= a.i) p
      |  GROUP BY 1, 2),
      |means AS (
      |  SELECT i.i,
      |         CAST(SUM(CAST(FLOOR(CAST(e.embedding[i.i] AS DOUBLE) * 1e12 + 0.5)
      |              AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / (SELECT n FROM n) AS m
      |  FROM embeddings e, idx i GROUP BY i.i)
      |SELECT p.i, p.j,
      |       CAST(FLOOR((CAST(p.sxy AS DOUBLE) / 1e12 / (SELECT n FROM n)
      |             - mi.m * mj.m) * 1e9 + 0.5) AS BIGINT) AS cov_e9
      |FROM prods p
      |JOIN means mi ON mi.i = p.i JOIN means mj ON mj.i = p.j
      |ORDER BY p.i, p.j""".stripMargin) { (s, dir) =>
    Pca.covariance(t(s, dir, "embeddings"), 64).orderBy("i", "j")
  }

  /** Closed-form 2-D PCA projection (Pca.projectTop2d): the top
    * eigenvector of the symmetric 2x2 covariance has an analytic
    * form, so — unlike the power-iteration path — the WHOLE eigen
    * computation mirrors into SQL: e9-grid decimal-sum covariance,
    * IEEE-exact sqrt, identical operation order, canonical sign,
    * floor-scaled integer surfaces (no engine `ROUND(double)`
    * anywhere). The one oracled end-to-end eigenvector in the
    * battery. */
  val qPcaTop2 = Q(
    "q_pca_top2",
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |m AS (
      |  SELECT
      |    CAST(SUM(CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1e12 + 0.5)
      |         AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / (SELECT n FROM n) AS m1,
      |    CAST(SUM(CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1e12 + 0.5)
      |         AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / (SELECT n FROM n) AS m2
      |  FROM embeddings),
      |s AS (
      |  SELECT
      |    CAST(SUM(CAST(FLOOR(CAST(embedding[1] AS DOUBLE) *
      |         CAST(embedding[1] AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS s11,
      |    CAST(SUM(CAST(FLOOR(CAST(embedding[1] AS DOUBLE) *
      |         CAST(embedding[2] AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS s12,
      |    CAST(SUM(CAST(FLOOR(CAST(embedding[2] AS DOUBLE) *
      |         CAST(embedding[2] AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS s22
      |  FROM embeddings),
      |cv AS (
      |  SELECT CAST(FLOOR((s.s11 / 1e12 / (SELECT n FROM n) - m.m1 * m.m1) * 1e9 + 0.5) AS BIGINT) / 1e9 AS a,
      |         CAST(FLOOR((s.s12 / 1e12 / (SELECT n FROM n) - m.m1 * m.m2) * 1e9 + 0.5) AS BIGINT) / 1e9 AS b,
      |         CAST(FLOOR((s.s22 / 1e12 / (SELECT n FROM n) - m.m2 * m.m2) * 1e9 + 0.5) AS BIGINT) / 1e9 AS c
      |  FROM s, m),
      |eg AS (
      |  SELECT a, b, c,
      |         (a + c) / 2 + SQRT((a - c) / 2 * ((a - c) / 2) + b * b) AS lam
      |  FROM cv),
      |rv AS (
      |  SELECT CASE WHEN b <> 0 THEN b WHEN a >= c THEN 1.0 ELSE 0.0 END AS r1,
      |         CASE WHEN b <> 0 THEN lam - a WHEN a >= c THEN 0.0 ELSE 1.0 END AS r2
      |  FROM eg),
      |vv AS (
      |  SELECT r1 / SQRT(r1 * r1 + r2 * r2) AS v1,
      |         r2 / SQRT(r1 * r1 + r2 * r2) AS v2 FROM rv),
      |vs AS (
      |  SELECT CASE WHEN (CASE WHEN ABS(v1) >= ABS(v2) THEN v1 < 0
      |                         ELSE v2 < 0 END) THEN -v1 ELSE v1 END AS v1,
      |         CASE WHEN (CASE WHEN ABS(v1) >= ABS(v2) THEN v1 < 0
      |                         ELSE v2 < 0 END) THEN -v2 ELSE v2 END AS v2
      |  FROM vv)
      |SELECT e.vec_id,
      |       CAST(FLOOR(((CAST(e.embedding[1] AS DOUBLE) - m.m1) * vs.v1 +
      |             (CAST(e.embedding[2] AS DOUBLE) - m.m2) * vs.v2) * 1e6 + 0.5)
      |            AS BIGINT) AS proj_e6
      |FROM embeddings e, m, vs
      |ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
    Pca.projectTop2d(t(s, dir, "embeddings")).orderBy("vec_id")
  }

  /** One plane's oracle CTE block — the q_pca_top2 closed-form
    * arithmetic verbatim, suffixed per plane: means, e12 product
    * sums, e9-grid covariance, analytic 2x2 eigenvector with
    * canonical sign. */
  private def pcaPlaneCtes(p: Int): String = {
    val (di, dj) = (2 * p - 1, 2 * p)
    s"""m$p AS (
       |  SELECT
       |    CAST(SUM(CAST(FLOOR(CAST(embedding[$di] AS DOUBLE) * 1e12 + 0.5)
       |         AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / (SELECT n FROM n) AS m1,
       |    CAST(SUM(CAST(FLOOR(CAST(embedding[$dj] AS DOUBLE) * 1e12 + 0.5)
       |         AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / (SELECT n FROM n) AS m2
       |  FROM embeddings),
       |s$p AS (
       |  SELECT
       |    CAST(SUM(CAST(FLOOR(CAST(embedding[$di] AS DOUBLE) *
       |         CAST(embedding[$di] AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS s11,
       |    CAST(SUM(CAST(FLOOR(CAST(embedding[$di] AS DOUBLE) *
       |         CAST(embedding[$dj] AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS s12,
       |    CAST(SUM(CAST(FLOOR(CAST(embedding[$dj] AS DOUBLE) *
       |         CAST(embedding[$dj] AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS s22
       |  FROM embeddings),
       |cv$p AS (
       |  SELECT CAST(FLOOR((s.s11 / 1e12 / (SELECT n FROM n) - m.m1 * m.m1) * 1e9 + 0.5) AS BIGINT) / 1e9 AS a,
       |         CAST(FLOOR((s.s12 / 1e12 / (SELECT n FROM n) - m.m1 * m.m2) * 1e9 + 0.5) AS BIGINT) / 1e9 AS b,
       |         CAST(FLOOR((s.s22 / 1e12 / (SELECT n FROM n) - m.m2 * m.m2) * 1e9 + 0.5) AS BIGINT) / 1e9 AS c
       |  FROM s$p s, m$p m),
       |eg$p AS (
       |  SELECT a, b, c,
       |         (a + c) / 2 + SQRT((a - c) / 2 * ((a - c) / 2) + b * b) AS lam
       |  FROM cv$p),
       |rv$p AS (
       |  SELECT CASE WHEN b <> 0 THEN b WHEN a >= c THEN 1.0 ELSE 0.0 END AS r1,
       |         CASE WHEN b <> 0 THEN lam - a WHEN a >= c THEN 0.0 ELSE 1.0 END AS r2
       |  FROM eg$p),
       |vv$p AS (
       |  SELECT r1 / SQRT(r1 * r1 + r2 * r2) AS v1,
       |         r2 / SQRT(r1 * r1 + r2 * r2) AS v2 FROM rv$p),
       |vs$p AS (
       |  SELECT CASE WHEN (CASE WHEN ABS(v1) >= ABS(v2) THEN v1 < 0
       |                         ELSE v2 < 0 END) THEN -v1 ELSE v1 END AS v1,
       |         CASE WHEN (CASE WHEN ABS(v1) >= ABS(v2) THEN v1 < 0
       |                         ELSE v2 < 0 END) THEN -v2 ELSE v2 END AS v2
       |  FROM vv$p)""".stripMargin
  }

  private def pcaProjectOracle(k: Int): String = {
    val ctes = (1 to k).map(pcaPlaneCtes).mkString(",\n")
    val cols = (1 to k).map { p =>
      val (di, dj) = (2 * p - 1, 2 * p)
      s"""       CAST(FLOOR(((CAST(e.embedding[$di] AS DOUBLE) - m$p.m1) * vs$p.v1 +
         |             (CAST(e.embedding[$dj] AS DOUBLE) - m$p.m2) * vs$p.v2) * 1e6 + 0.5)
         |            AS BIGINT) AS p$p""".stripMargin
    }.mkString(",\n")
    val from = (1 to k).map(p => s"m$p, vs$p").mkString(", ")
    s"""WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
       |$ctes
       |SELECT e.vec_id,
       |$cols
       |FROM embeddings e, $from
       |ORDER BY e.vec_id""".stripMargin
  }

  /** Blockwise PCA projection (Pca.projectPlanes — the OPQ-style
    * subspace rotation): 8 consecutive 2-D planes, each projected
    * onto its own closed-form top eigenvector, surfaced as exact e6
    * BIGINT scalars p1..p8. Fully oracled: the per-plane arithmetic
    * is the q_pca_top2 chain (e9-grid decimal-sum covariance, IEEE
    * sqrt, identical op order, canonical sign, floor-scaled integer
    * output) replicated per plane by [[pcaProjectOracle]] — unlike
    * the full-rank power-iteration path (Pca.project), whose
    * driver-side eigensolver is not expressible in the oracle's SQL
    * and stays unit-pinned in PcaSpec. One fused moment pass + one
    * literal-fed projection scan: 2 corpus passes, zero corpus
    * joins. */
  val qPcaProject = Q("q_pca_project", pcaProjectOracle(8)) { (s, dir) =>
    Pca.projectPlanes(t(s, dir, "embeddings"), 64, 8).orderBy("vec_id")
  }

  /** Multinomial Naive Bayes classifier (NaiveBayes.classify): train
    * on the corpus's own language labels, classify every document.
    * Every per-token likelihood is rounded to 6 decimals and cast to
    * DECIMAL BEFORE summation, so all scores are exact decimal sums —
    * addition-order-free and bit-identical across engines; ties break
    * on the smaller class label. The model is vocab x classes and
    * broadcast; corpus-scale work is one tf aggregation. */
  val qNbClassify = Q(
    "q_nb_classify",
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |ct AS (SELECT lang, COUNT(*) AS ntok FROM tok GROUP BY lang),
      |cls AS (
      |  SELECT d.lang,
      |         CAST(ROUND(LN(CAST(d.ndocs AS DOUBLE) / n.n), 6) AS DECIMAL(18,6)) AS prior,
      |         CAST(ROUND(LN(1.0 / (ct.ntok + v.v)), 6) AS DECIMAL(18,6)) AS l0
      |  FROM (SELECT lang, COUNT(*) AS ndocs FROM documents GROUP BY lang) d
      |  JOIN ct USING (lang) CROSS JOIN n CROSS JOIN v),
      |model AS (
      |  SELECT wc.lang, wc.w,
      |         CAST(ROUND(LN((wc.cnt + 1.0) / (ct.ntok + v.v)), 6) AS DECIMAL(18,6)) -
      |         CAST(ROUND(LN(1.0 / (ct.ntok + v.v)), 6) AS DECIMAL(18,6)) AS delta
      |  FROM (SELECT lang, w, COUNT(*) AS cnt FROM tok GROUP BY 1, 2) wc
      |  JOIN ct USING (lang) CROSS JOIN v),
      |nd AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS nd FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |adj AS (
      |  SELECT tf.doc_id, m.lang AS c, SUM(tf.tf * m.delta) AS adj
      |  FROM tf JOIN model m USING (w) GROUP BY 1, 2),
      |sc AS (
      |  SELECT nd.doc_id, nd.lang, c.lang AS c,
      |         c.prior + nd.nd * c.l0 + COALESCE(a.adj, 0) AS score
      |  FROM nd CROSS JOIN cls c
      |  LEFT JOIN adj a ON a.doc_id = nd.doc_id AND a.c = c.lang),
      |r AS (
      |  SELECT doc_id, lang, c AS pred, score,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, c ASC) AS rn
      |  FROM sc)
      |SELECT doc_id, lang, pred, CAST(score AS DOUBLE) AS score
      |FROM r WHERE rn = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    NaiveBayes.classify(docs, docs).orderBy("doc_id")
  }

  /** The NB model's class-level summary (NaiveBayes.classSummary):
    * per-class doc/token totals, log prior, zero-count floor. */
  val qNbModel = Q(
    "q_nb_model",
    """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT d.lang, d.n_docs, t.n_tokens,
      |       CAST(FLOOR(LN(CAST(d.n_docs AS DOUBLE) / n.n) * 1e6 + 0.5)
      |            AS BIGINT) AS prior_e6,
      |       CAST(FLOOR(LN(1.0 / (t.n_tokens + v.v)) * 1e6 + 0.5)
      |            AS BIGINT) AS l0_e6
      |FROM (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang) d
      |JOIN (SELECT lang, COUNT(*) AS n_tokens FROM tok GROUP BY lang) t USING (lang)
      |CROSS JOIN n CROSS JOIN v
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    NaiveBayes.classSummary(t(s, dir, "documents")).orderBy("lang")
  }

  /** Bigram-LM perplexity quality score (Perplexity.score — the
    * CCNet-style signal, add-1 smoothing over the corpus's own
    * bigrams). Count tables are vocab-sized and broadcast; the only
    * corpus-scale work is the pair explode + one doc-keyed agg. */
  val qPerplexity = Q(
    "q_perplexity",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w1 FROM toks),
      |uc AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY w1),
      |v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uc),
      |pairs AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |                 i -> concat_ws(' ', t[i], t[i+1]))) AS pair
      |          FROM toks WHERE len(t) >= 2),
      |bc AS (SELECT pair, COUNT(*) AS c2 FROM pairs GROUP BY pair),
      |scored AS (
      |  SELECT doc_id,
      |         ln((COALESCE(c2, 0) + 1.0) / (c1 + 1.0 * v)) AS lnp
      |  FROM pairs
      |  LEFT JOIN bc USING (pair)
      |  JOIN uc ON uc.w1 = string_split(pair, ' ')[1]
      |  CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_pairs,
      |       CAST(FLOOR(exp(-AVG(lnp)) * 1e6 + 0.5) AS BIGINT) AS ppl_e6
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Perplexity.score(t(s, dir, "documents"), 1.0).orderBy("doc_id")
  }

  /** Normalized fingerprint uniqueness per source. */
  val qFingerprint = Q(
    "q_fingerprint",
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')))) AS n_unique
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("source"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique"))
      .orderBy("source")
  }

  // ------------------------------------------------ full-text search

  /** Inverted-index match-ALL search (fulltext.rs:1-968): documents
    * containing every query term, ranked by total tf. 'dup' marks the
    * synthetic near-duplicate docs, so the conjunction is selective. */
  val qFulltextAll = Q(
    "q_fulltext_all",
    """WITH p AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS score, COUNT(DISTINCT term) AS nt
      |  FROM p WHERE term IN ('dup', 'vector')
      |  GROUP BY doc_id)
      |SELECT doc_id, score FROM hits WHERE nt = 2
      |ORDER BY score DESC, doc_id""".stripMargin) { (s, dir) =>
    FullText.searchAll(t(s, dir, "documents"), "doc_id", "text",
      Seq("dup", "vector"))
  }

  /** Match-ANY search; one query term ('checkpoint') has no postings at
    * all — the disjunction must still rank the rest correctly. */
  val qFulltextAny = Q(
    "q_fulltext_any",
    """WITH p AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT doc_id, COUNT(*) AS score
      |FROM p WHERE term IN ('dup', 'checkpoint')
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id""".stripMargin) { (s, dir) =>
    FullText.searchAny(t(s, dir, "documents"), "doc_id", "text",
      Seq("dup", "checkpoint"))
  }

  /** BM25 relevance ranking (k1=1.2, b=0.75, +1 idf). Two query terms
    * keep the per-doc score sum a single commutative addition, so the
    * doubles are bit-identical across engines; the oracle spells the
    * identical formula with the identical literals and association. */
  val qFulltextBm25 = Q(
    "q_fulltext_bm25",
    """WITH lens AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens),
      |p AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM p WHERE term IN ('dup', 'vector') GROUP BY doc_id, term),
      |df AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)
      |SELECT tf.doc_id,
      |       SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |           * tf * 2.2
      |           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / avgdl))) AS score
      |FROM tf JOIN df USING (term)
      |     CROSS JOIN stats
      |     JOIN lens ON lens.doc_id = tf.doc_id
      |GROUP BY tf.doc_id
      |ORDER BY score DESC, tf.doc_id""".stripMargin) { (s, dir) =>
    FullText.searchBm25(t(s, dir, "documents"), "doc_id", "text",
      Seq("dup", "vector"))
  }

  // ------------------------------------------- sampling and packing

  /** Deterministic stratified sampling: keep 50 % of English docs and
    * 10 % of the rest, selected by an arithmetic key hash so the same
    * corpus always yields the same sample. Pure filter — the 100 TB
    * cost is the scan. The oracle states the identical arithmetic. */
  val qStratSample = Q(
    "q_strat_sample",
    """SELECT lang, doc_id FROM documents
      |WHERE (CAST(doc_id AS BIGINT) * 2654435761) % 100 <
      |      CASE WHEN lang = 'en' THEN 50 ELSE 10 END
      |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
    Sampling.stratified(t(s, dir, "documents"), col("doc_id"), col("lang"),
        Map("en" -> 50), defaultPct = 10)
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id")
  }

  /** Exactly-k-per-stratum sample: 5 docs per language, ranked inside
    * each stratum by the same deterministic hash. WindowGroupLimit
    * prunes partitions to k rows before the single stratum shuffle. */
  val qSampleExactK = Q(
    "q_sample_exact_k",
    """WITH r AS (
      |  SELECT lang, doc_id,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY (CAST(doc_id AS BIGINT) * 2654435761) % 100, doc_id) AS rk
      |  FROM documents)
      |SELECT lang, doc_id FROM r WHERE rk <= 5
      |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
    Sampling.exactK(t(s, dir, "documents"), col("doc_id"), col("lang"), 5)
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id")
  }

  /** Sequence packing: documents pack into 2048-token training bins by
    * prefix-sum in doc order, sharded by source so packing
    * parallelizes (a global cumulative sum would funnel the corpus
    * through one task). The oracle recomputes the identical window. */
  val qSeqPack = Q(
    "q_seq_pack",
    """WITH tok AS (
      |  SELECT source AS shard, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT shard, doc_id, n_tok,
      |         SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |           ROWS UNBOUNDED PRECEDING) - n_tok AS tok_before
      |  FROM tok)
      |SELECT shard, CAST(FLOOR(tok_before / 2048.0) AS BIGINT) AS pack_id,
      |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
      |FROM c GROUP BY shard, pack_id
      |ORDER BY shard, pack_id""".stripMargin) { (s, dir) =>
    Packing.packs(t(s, dir, "documents"), col("doc_id"), col("text"),
        col("source"), budget = 2048)
      .select(col("shard"), col("pack_id"), col("n_docs"), col("pack_tokens"))
  }

  // ------------------------------------------------------ multimodal

  /** Binary payload + stub-decoded metadata, aggregated per source. */
  val qMultimodalMeta = Q(
    "q_multimodal_meta",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(MAX(octet_length(encode(text)) % 640 + 1) AS INT) AS max_width
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    Multimodal.withBinaryPayload(t(s, dir, "documents"), col("text"), "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("meta.byte_len")).cast("long").as("total_bytes"),
        max(col("meta.width")).cast("int").as("max_width"))
      .orderBy("source")
  }

  /** Per-partition feature extraction over binary payloads — the
    * mapPartitions execution shape a real decoder needs (codec opened
    * once per partition). The stub features (first/last byte) are
    * SQL-expressible over ASCII text, so this carries a real oracle. */
  val qMmFeatures = Q(
    "q_mm_features",
    """SELECT doc_id,
      |       ascii(substr(text, 1, 1)) AS feat_first,
      |       ascii(substr(text, length(text), 1)) AS feat_last,
      |       octet_length(encode(text)) AS byte_len
      |FROM documents WHERE doc_id < 50
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Multimodal.extractFeatures(
        Multimodal.withBinaryPayload(
          t(s, dir, "documents").where(col("doc_id") < 50), col("text"), "text"))
      .select(col("doc_id"), col("feat_first"), col("feat_last"),
        col("meta.byte_len").as("byte_len"))
      .orderBy("doc_id")
  }

  /** Frame-sampling slices over binary payloads (video-style access
    * pattern; offsets from the stub metadata). */
  val qFrameSample = Q(
    "q_frame_sample",
    """SELECT doc_id, i AS frame_idx,
      |  CAST(octet_length(encode(text)) * i // 4 AS BIGINT) AS frame_offset,
      |  CAST(octet_length(encode(text)) // 4 AS BIGINT) AS frame_len
      |FROM documents CROSS JOIN (SELECT unnest(range(4)) AS i)
      |WHERE doc_id < 25
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.sampleFrames(
        Multimodal.withBinaryPayload(
          t(s, dir, "documents").where(col("doc_id") < 25), col("text"), "text"), 4)
      .select(col("doc_id"), col("frame_idx"), col("frame_offset"), col("frame_len"))
      .orderBy("doc_id", "frame_idx")
  }

  // ------------------------------------------------- events analytics

  /** Tumbling-window (hourly) aggregation over the event stream shape. */
  val qEventsHourly = Q(
    "q_events_hourly",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
      |       event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE ts < TIMESTAMP '2024-01-08'
      |GROUP BY hour, event_type
      |ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .where(col("ts") < lit("2024-01-08").cast("timestamp"))
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00")
        .as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("hour", "event_type")
  }

  /** Sessionization: gap > 30 min starts a new session; session ids by
    * cumulative sum over the per-user timeline (lag + window — the
    * batch equivalent of stateful streaming sessionization). */
  val qEventsSessions = Q(
    "q_events_sessions",
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
      |                (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events WHERE user_id < 20),
      |s AS (
      |  SELECT user_id, event_id,
      |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       COUNT(*) AS n_events,
      |       MIN(event_id) AS first_event, MAX(event_id) AS last_event
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .where(col("user_id") < 20)
      .withColumn("new_s",
        when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
          > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wRun).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy("user_id", "session_id")
  }

  /** JSON property extraction from the props column. */
  val qEventsJson = Q(
    "q_events_json",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY k_mod
      |ORDER BY k_mod""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .withColumn("k_mod",
        get_json_object(col("props"), "$.k").cast("long") % 10)
      .groupBy("k_mod")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("k_mod")
  }

  // ------------------------------------------ approximate sketches

  /** Sketch aggregates (HyperLogLog++ distinct counting,
    * quantile-sketch medians) — the approximate-aggregate tier a 100 TB
    * engine needs when exact DISTINCT shuffles are too expensive.
    * Spark's native codegen'd sketches are the Spark-first answer;
    * their values aren't portable across engines, so the oracle checks
    * the ERROR-BOUND INVARIANT: each group's sketch estimate must land
    * within the configured tolerance of the exact answer (computed in
    * the same plan), surfacing as literal TRUEs — plus the exact
    * values, which must hash-match outright. */
  val qApproxSketch = Q(
    "q_approx_sketch",
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS exact_distinct,
      |       TRUE AS hll_ok, TRUE AS median_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_distinct"),
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("_hll"),
        expr("percentile(l_quantity, 0.5)").as("_p_exact"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("_p_apx"))
      .select(col("l_returnflag"), col("exact_distinct"),
        (abs(col("_hll") - col("exact_distinct")) <=
          col("exact_distinct") * 0.03).as("hll_ok"),
        (abs(col("_p_apx") - col("_p_exact")) <= lit(1.0)).as("median_ok"))
      .orderBy("l_returnflag")
  }

  // ----------------------------------- chunking and PII redaction

  /** Fixed-size token chunking with overlap ([REF-GAP] pipeline
    * stage): 32-token windows stepping by 24 (8 overlap) — the
    * pretraining windowing shape. Pure generator over computed
    * offsets, no shuffle. Starts are bounded at len-overlap-1 so no
    * chunk is fully contained in its predecessor. The oracle states
    * the identical slicing arithmetic; any off-by-one in starts,
    * clipping, or the final partial chunk diverges rows or hash. */
  val qDocChunks = Q(
    "q_doc_chunks",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE doc_id < 40),
      |starts AS (
      |  SELECT doc_id, t,
      |         unnest(generate_series(0, GREATEST(len(t) - 9, 0), 24)) AS s
      |  FROM toks)
      |SELECT doc_id, CAST(s / 24 AS BIGINT) AS chunk_id,
      |       array_to_string(list_slice(t, s + 1, s + 32), ' ') AS chunk,
      |       LEAST(32, len(t) - s) AS n_tokens
      |FROM starts
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    TextChunking.chunk(
        t(s, dir, "documents").where(col("doc_id") < 40)
          .select("doc_id", "text"),
        col("text"), chunkTokens = 32, overlap = 8)
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        col("n_tokens").cast("long").as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** PII redaction ([REF-GAP] pipeline stage): emails, phone numbers,
    * and SSN-shaped ids masked with patterns from the Java∩RE2 regex
    * subset, so the oracle applies the byte-identical expressions.
    * The fixture text carries no PII, so each doc gets a
    * deterministic contaminated suffix first — redaction must strip
    * exactly that. */
  val qPiiRedact = Q(
    "q_pii_redact",
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        text || ' contact u' || CAST(doc_id AS VARCHAR) ||
      |        '@mail-' || CAST(doc_id AS VARCHAR) ||
      |        '.com or 555-867-5309 ssn 123-45-6789',
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      |    '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g') AS clean
      |FROM documents
      |WHERE doc_id < 50
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").where(col("doc_id") < 50)
      .select(col("doc_id"),
        TextChunking.redactPii(concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail-"), col("doc_id").cast("string"),
          lit(".com or 555-867-5309 ssn 123-45-6789"))).as("clean"))
      .orderBy("doc_id")
  }

  // ----------------------------------------- as-of and range joins

  /** As-of join ([REF-GAP] — neither the reference nor Spark has one):
    * each purchase event picks up the user's most recent click at or
    * before it, via the union-tag + running-last shape (one shuffle,
    * no per-key pair explosion — AsOfJoin scaladoc). The oracle spells
    * the same semantics as correlated argmax subqueries; identical
    * tie-breaking (latest ts, then highest event_id) keeps the match
    * unique. */
  val qAsofJoin = Q(
    "q_asof_join",
    """WITH p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id,
      |  (SELECT c.event_id FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
      |     ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS asof_event_id,
      |  (SELECT c.value FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
      |     ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS asof_value
      |FROM p ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin.asOf(purchases, clicks, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        payload = Seq("event_id", "value"), tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"),
        col("asof_event_id"), col("asof_value"))
      .orderBy("event_id")
  }

  /** Range join ([REF-GAP]): 14-day promo windows derived from a
    * deterministic orders sample, probed by lineitem ship dates. The
    * engine runs the bin-bucketed equi-join + residual filter
    * (RangeJoin scaladoc — one shuffle instead of a nested-loop or
    * cartesian plan); the oracle states the plain inequality join.
    * Empty windows survive via the left re-join. */
  val qRangeJoin = Q(
    "q_range_join",
    """WITH r AS (
      |  SELECT o_orderkey AS rid, o_orderdate AS start_d,
      |         o_orderdate + INTERVAL 14 DAY AS end_d
      |  FROM orders WHERE o_orderkey % 200 = 0),
      |l AS (
      |  SELECT l_shipdate, l_quantity FROM lineitem WHERE l_orderkey % 3 = 0),
      |hits AS (
      |  SELECT r.rid, COUNT(*) AS n_ship,
      |         CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |  FROM r JOIN l ON l.l_shipdate >= r.start_d AND l.l_shipdate <= r.end_d
      |  GROUP BY r.rid)
      |SELECT r.rid, COALESCE(hits.n_ship, 0) AS n_ship, hits.qty
      |FROM r LEFT JOIN hits ON hits.rid = r.rid
      |ORDER BY r.rid""".stripMargin) { (s, dir) =>
    val ranges = t(s, dir, "orders").where(col("o_orderkey") % 200 === 0)
      .select(col("o_orderkey").as("rid"), col("o_orderdate").as("start_d"),
        (col("o_orderdate") + expr("INTERVAL 14 DAY")).as("end_d"))
    val items = t(s, dir, "lineitem").where(col("l_orderkey") % 3 === 0)
      .select("l_shipdate", "l_quantity")
    val hits = RangeJoin.binned(items, col("l_shipdate"), ranges,
        col("start_d"), col("end_d"), binDays = 16)
      .groupBy("rid")
      .agg(count(lit(1)).as("n_ship"), dsum(col("l_quantity")).as("qty"))
    ranges.select("rid").join(hits, Seq("rid"), "left")
      .select(col("rid"), coalesce(col("n_ship"), lit(0L)).as("n_ship"),
        col("qty"))
      .orderBy("rid")
  }

  /** Benchmark decontamination: per-train-document count of distinct
    * 3-gram shingles colliding with the eval corpus (docs with
    * doc_id % 20 == 0 stand in for the benchmark set). The oracle
    * rebuilds identical shingles and the same split, so a missed or
    * phantom collision diverges the hash. */
  val qDecontam = Q(
    "q_decontam",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], '_')))) AS tok
      |  FROM d),
      |ev AS (SELECT DISTINCT tok FROM sh WHERE doc_id % 20 = 0),
      |tr AS (SELECT doc_id, tok FROM sh WHERE doc_id % 20 <> 0)
      |SELECT doc_id, COUNT(*) AS n_overlap
      |FROM tr JOIN ev USING (tok)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    Decontam.overlap(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), 3)
      .orderBy("doc_id")
  }

  /** Span-level decontamination (Decontam.contaminatedSpans): maximal
    * token intervals of each train doc covered by eval 3-grams — the
    * mask-the-window alternative to dropping whole documents. The
    * oracle re-merges the same windows via gaps-and-islands. */
  val qDecontamSpans = Q(
    "q_decontam_spans",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |occ AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(t[i:i+2], ' ') AS gram
      |  FROM d, unnest(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3 AND doc_id % 20 <> 0),
      |ev AS (
      |  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS gram
      |  FROM d, unnest(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3 AND doc_id % 20 = 0),
      |cut AS (SELECT doc_id, pos FROM occ JOIN ev USING (gram)),
      |lagged AS (
      |  SELECT doc_id, pos,
      |         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM cut),
      |isl AS (
      |  SELECT doc_id, pos,
      |         SUM(CASE WHEN prev IS NULL OR pos > prev + 3 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM lagged)
      |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 3 AS span_end
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    Decontam.contaminatedSpans(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), 3)
      .orderBy("doc_id", "span_start")
  }

  /** The decontaminated corpus itself: train documents with fewer
    * than 3 colliding shingles survive. */
  val qDecontamClean = Q(
    "q_decontam_clean",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], '_')))) AS tok
      |  FROM d),
      |ev AS (SELECT DISTINCT tok FROM sh WHERE doc_id % 20 = 0),
      |bad AS (
      |  SELECT doc_id FROM sh JOIN ev USING (tok)
      |  WHERE doc_id % 20 <> 0
      |  GROUP BY doc_id HAVING COUNT(*) >= 3)
      |SELECT doc_id, length(text) AS n_chars FROM documents
      |WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    Decontam.clean(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), 3, maxOverlap = 3)
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy("doc_id")
  }

  /** Domain-mixture sampling: compose a 3000-token budget as
    * 300‰ src0 / 250‰ src1 / 150‰ src2 / 10‰ everything else, as a
    * deterministic integer-arithmetic rate filter per domain. The
    * oracle re-derives the same plan and keep decision in SQL —
    * bit-equal membership, not just similar counts. */
  val qDomainMix = Q(
    "q_domain_mix",
    """WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |st AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS avail
      |       FROM d GROUP BY source),
      |pl AS (SELECT source, avail,
      |  3000 * (CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 250
      |          WHEN 'src2' THEN 150 ELSE 10 END) // 1000 AS tgt
      |  FROM st)
      |SELECT d.doc_id, d.source, d.n_tok
      |FROM d JOIN pl ON d.source = pl.source
      |WHERE (d.doc_id * 2654435761) % 1000 * avail < least(avail, tgt) * 1000
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    Mixture.sample(docs, "source", col("doc_id"), col("n_tok"),
        Map("src0" -> 300, "src1" -> 250, "src2" -> 150),
        defaultPermille = 10, budget = 3000L)
      .select(col("doc_id"), col("source"), col("n_tok"))
      .orderBy("doc_id")
  }

  /** Weighted upsampling (Mixture.upsample): fractional epoch repeats
    * — floor(w) copies plus one more iff the per-mille key bucket
    * falls under frac(w)·1000. The oracle re-derives the identical
    * BIGINT arithmetic and generate_series expansion. */
  val qMixUpsample = Q(
    "q_mix_upsample",
    """WITH d AS (SELECT doc_id, source,
      |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 1000
      |              WHEN 'src2' THEN 400 ELSE 700 END AS w
      |  FROM documents),
      |c AS (SELECT doc_id, source,
      |  w // 1000 + CASE WHEN (doc_id * 2654435761) % 1000 < w % 1000
      |              THEN 1 ELSE 0 END AS n
      |  FROM d)
      |SELECT doc_id, source, CAST(unnest(generate_series(1, n)) AS BIGINT) AS epoch
      |FROM c WHERE n > 0 ORDER BY doc_id, epoch""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val w = when(col("source") === "src0", 2500L)
      .when(col("source") === "src1", 1000L)
      .when(col("source") === "src2", 400L)
      .otherwise(700L)
    Mixture.upsample(docs.withColumn("_w", w), col("doc_id"), col("_w"))
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Temperature-scaled mixture weights (Mixture.temperatureWeights,
    * alpha = 0.5): w_d proportional to sqrt(n_d tokens) — the
    * multilingual alpha-sampling rule. Each n^alpha snaps to the e6
    * integer grid via floor(x*1e6 + 0.5) — exact IEEE ops over the
    * correctly-rounded sqrt, bit-identical across engines — and Z
    * sums the integers (order-free). The normalized weight surfaces
    * as the exact scaled integer w_e6 = half_up(1e6*pw/Z) via pure
    * integer arithmetic — never a rounded DOUBLE (engine
    * ROUND(double,n) differs in the last ulp), and every hashed
    * column is BIGINT-cast so the oracle's pandas dtype is int64,
    * not a HUGEINT-derived float64 (the r13 hash-flip class). The
    * weight table is |domains| rows at any scale. */
  val qMixTemperature = Q(
    "q_mix_temperature",
    """WITH s AS (
      |  SELECT source,
      |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |p AS (SELECT source, n_tokens,
      |        CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
      |             AS BIGINT) AS pw_e6
      |      FROM s),
      |z AS (SELECT CAST(SUM(pw_e6) AS BIGINT) AS z_e6 FROM p)
      |SELECT p.source, p.n_tokens,
      |       (2 * p.pw_e6 * 1000000 + z.z_e6) // (2 * z.z_e6) AS w_e6
      |FROM p, z ORDER BY p.source""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    Mixture.temperatureWeights(docs, "source",
      size(split(col("text"), " ")).cast("long"), alpha = 0.5)
      .orderBy("source")
  }

  /** Gopher-style repetition gate (QualityFilters.repetitionGate):
    * top-2-gram coverage + duplicate-3-gram coverage per document,
    * thresholded. The oracle rebuilds the identical n-gram arrays and
    * integer-exact ratios. */
  val qQualityRepetition = Q(
    "q_quality_repetition",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |e2 AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)),
      |                i -> concat_ws(' ', t[i], t[i+1]))) AS gram
      |       FROM toks WHERE len(t) >= 2),
      |c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM e2 GROUP BY 1, 2),
      |m2 AS (SELECT doc_id,
      |         CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_2gram_frac
      |       FROM c2 GROUP BY 1),
      |e3 AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
      |       FROM toks WHERE len(t) >= 3),
      |c3 AS (SELECT doc_id, gram, COUNT(*) AS c FROM e3 GROUP BY 1, 2),
      |m3 AS (SELECT doc_id,
      |         CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS DOUBLE)
      |           / SUM(c) AS dup_3gram_frac
      |       FROM c3 GROUP BY 1)
      |SELECT m2.doc_id, top_2gram_frac, dup_3gram_frac,
      |       top_2gram_frac <= 0.2 AND dup_3gram_frac <= 0.6 AS passes
      |FROM m2 JOIN m3 ON m2.doc_id = m3.doc_id
      |ORDER BY m2.doc_id""".stripMargin) { (s, dir) =>
    QualityFilters.repetitionGate(t(s, dir, "documents"),
        maxTop2 = 0.2, maxDup3 = 0.6)
      .orderBy("doc_id")
  }

  /** Seeded deterministic training order (TrainingOrder.shardPlan):
    * the oracle re-derives the multiplicative-hash permutation and
    * in-shard ranks with the same BIGINT arithmetic. */
  val qTrainShuffle = Q(
    "q_train_shuffle",
    """WITH h AS (SELECT doc_id,
      |  (doc_id * 2654435761 + 42) % 1000000007 AS ord FROM documents)
      |SELECT doc_id, ord % 8 AS shard,
      |       ROW_NUMBER() OVER (PARTITION BY ord % 8
      |                          ORDER BY ord, doc_id) AS pos
      |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TrainingOrder.shardPlan(t(s, dir, "documents"), col("doc_id"),
        seed = 42L, numShards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  /** Top adjacent-pair statistics — the first BPE merge step's
    * candidate table (pair count + count-normalized affinity). */
  val qBpePairs = Q(
    "q_bpe_pairs",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |uc AS (SELECT w, COUNT(*) AS wc FROM uni GROUP BY w),
      |pairs AS (SELECT unnest(list_transform(range(1, len(t)),
      |                 i -> concat_ws(' ', t[i], t[i+1]))) AS pair
      |          FROM toks WHERE len(t) >= 2),
      |pc AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
      |SELECT pair, n,
      |       CAST(n AS DOUBLE) / (lc.wc * rc.wc) AS affinity
      |FROM pc
      |JOIN uc lc ON lc.w = string_split(pair, ' ')[1]
      |JOIN uc rc ON rc.w = string_split(pair, ' ')[2]
      |ORDER BY n DESC, pair
      |LIMIT 30""".stripMargin) { (s, dir) =>
    TextAnalysis.bpePairStats(t(s, dir, "documents"), 30)
  }

  /** Symmetric int8 embedding quantization (Quantize.int8): exact
    * integer codes + per-vector scale, re-derived element-wise in the
    * oracle with the same floor-half-up arithmetic. */
  val qEmbedQuant = Q(
    "q_embed_quant",
    """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 50),
      |q AS (SELECT vec_id, v,
      |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |      FROM s),
      |c AS (SELECT vec_id, scale,
      |        unnest(range(0, len(v))) AS dim,
      |        unnest(list_transform(v, x ->
      |          CASE WHEN scale = 0 THEN 0
      |               ELSE GREATEST(-127, LEAST(127,
      |                      CAST(FLOOR(x / scale + 0.5) AS BIGINT))) END)) AS code
      |      FROM q)
      |SELECT vec_id, dim, code, scale FROM c
      |ORDER BY vec_id, dim""".stripMargin) { (s, dir) =>
    Quantize.int8(t(s, dir, "embeddings").where(col("vec_id") < 50),
        "embedding")
      .select(col("vec_id"), col("scale"),
        posexplode(col("codes")).as(Seq("dim", "code")))
      .select("vec_id", "dim", "code", "scale")
      .orderBy("vec_id", "dim")
  }

  /** The DuckDB side of BPE learning, generated per round: round i
    * counts freq-weighted adjacent symbol pairs over the current
    * word-representation table w(i-1), picks the top (count DESC,
    * pair ASC) into m(i), and rewrites every occurrence into w(i).
    * REPLACE in DuckDB and Spark's StringReplace share the same
    * left-to-right non-overlapping semantics, so the rounds agree
    * exactly. */
  private def bpeOracleSql(k: Int, docCap: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS (
        |  SELECT ' ' || array_to_string(
        |           list_transform(range(1, len(w)+1), i -> substr(w, i, 1)), ' ')
        |         || ' </w> ' AS repr, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY 1)""".stripMargin)
    for (i <- 1 to k) {
      val m = s"(SELECT pair FROM m$i)"
      sb.append(s""",
        |p$i AS (
        |  SELECT pair, SUM(freq) AS n FROM (
        |    SELECT unnest(list_transform(range(1, len(t)),
        |             j -> concat_ws(' ', t[j], t[j+1]))) AS pair, freq
        |    FROM (SELECT string_split(trim(repr), ' ') AS t, freq
        |          FROM w${i - 1}))
        |  GROUP BY pair),
        |m$i AS (SELECT pair FROM p$i ORDER BY n DESC, pair LIMIT 1),
        |w$i AS (SELECT REPLACE(repr, ' ' || $m || ' ',
        |          ' ' || REPLACE($m, ' ', '') || ' ') AS repr, freq
        |        FROM w${i - 1})""".stripMargin)
    }
    // encoding: per-doc symbol string (words double-space-joined, like
    // the engine) with the k merges applied in rank order
    var enc = """' ' || array_to_string(list_transform(ws, w ->
      |    array_to_string(list_transform(range(1, len(w)+1),
      |      i -> substr(w, i, 1)), ' ') || ' </w>'), '  ') || ' '""".stripMargin
    for (i <- 1 to k) {
      val m = s"(SELECT pair FROM m$i)"
      enc = s"REPLACE($enc, ' ' || $m || ' ', ' ' || REPLACE($m, ' ', '') || ' ')"
    }
    sb.append(s""",
      |docsel AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '),
      |                   w -> len(w) > 0) AS ws
      |  FROM documents WHERE doc_id < $docCap),
      |enc AS (SELECT doc_id, $enc AS s FROM docsel),
      |tk AS (SELECT doc_id, regexp_split_to_array(trim(s), ' +') AS t
      |       FROM enc WHERE len(trim(s)) > 0)
      |SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS token
      |FROM tk ORDER BY doc_id, pos""".stripMargin)
    sb.toString
  }

  /** BPE train + tokenize (Bpe.learn + Bpe.encode): 6 merges learned
    * from the whole corpus's word-frequency table, then the first 40
    * documents tokenized with them. The oracle re-runs the ENTIRE
    * algorithm — all six learning rounds and the rank-ordered merge
    * application — in SQL, so a wrong pair ranking, a tie broken the
    * other way, a cross-word merge, or a divergent replace order all
    * change tokens and diverge the hash. */
  val qBpeEncode = Q("q_bpe_encode", bpeOracleSql(6, 40)) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val merges = Bpe.learn(docs, 6)
    Bpe.encode(docs.where(col("doc_id") < 40), merges)
      .select(col("doc_id"), posexplode(col("tokens")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .orderBy("doc_id", "pos")
  }

  /** Misra–Gries heavy hitters (HeavyHitters.hotReport over
    * freq_items): token first letters, sketch capacity 15 over a
    * 19-letter item space, so the decrement/merge reduction really
    * fires. Surfaced rows are DETERMINISTIC by construction — exact
    * counts of the items the MG bound PROVES are in the sketch
    * (f > N/16), plus the membership/error-bound verdicts, which the
    * guarantee forces TRUE under ANY partitioning or merge order (the
    * q_approx_sketch oracle pattern). Borderline sketch members stay
    * unreported: their membership is order-dependent. */
  /** 8-hex-digit md5 substring parsed to a BIGINT with plain digit
    * arithmetic — the engine-portable hash both sides of
    * q_bloom_decontam share (Spark uses `conv`, which computes the
    * same value). */
  private def duckMd5Int(expr: String, start: Int): String =
    (0 until 8).map(i =>
      s"(strpos('0123456789abcdef', substring(md5($expr), ${start + i}, 1)) - 1)::BIGINT * ${1L << (4 * (7 - i))}")
      .mkString(" + ")

  /** Bloom-filter decontamination (BloomFilterDecontam.decontam): the
    * corpus probes a 15872-bit filter built from the reference set's
    * (doc_id % 53 = 0) distinct 8-gram shingles, k = 3 double-hashed
    * md5 probes per shingle at odd stride h2|1 — each shingle's md5
    * computed once. The filter rides the Spark plan as ONE
    * array literal — the corpus side has zero joins/shuffles — while
    * the oracle re-derives every bit with portable hex-digit
    * arithmetic and rebuilds the same words via bit_or. False
    * positives are part of the contract and identical across engines
    * (same positions, same words). */
  val qBloomDecontam = Q(
    "q_bloom_decontam",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], '_') AS s
      |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
      |  WHERE len(t) >= 8),
      |hs AS (SELECT doc_id, s,
      |         (${duckMd5Int("s", 1)}) AS h1,
      |         (${duckMd5Int("s", 9)}) AS h2
      |       FROM sh),
      |rp AS (
      |  SELECT DISTINCT ((h1 + i * (h2 | 1)) % 15872) AS pos
      |  FROM hs, unnest(generate_series(0, 2)) AS g(i)
      |  WHERE doc_id % 53 = 0),
      |words AS (
      |  SELECT pos // 62 AS word,
      |         bit_or(1::BIGINT << (pos % 62)::INT) AS bits
      |  FROM rp GROUP BY 1),
      |dp AS (
      |  SELECT doc_id, s, ((h1 + i * (h2 | 1)) % 15872) AS pos
      |  FROM hs, unnest(generate_series(0, 2)) AS g(i)),
      |hit AS (
      |  SELECT dp.doc_id, dp.s,
      |         MIN(CASE WHEN w.bits IS NOT NULL
      |                   AND ((w.bits >> (dp.pos % 62)::INT) % 2) = 1
      |                  THEN 1 ELSE 0 END) AS all_set
      |  FROM dp LEFT JOIN words w ON w.word = dp.pos // 62
      |  GROUP BY dp.doc_id, dp.s),
      |st AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles,
      |         CAST(SUM(all_set) AS BIGINT) AS n_hits
      |  FROM hit GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CAST(COALESCE(st.n_shingles, 0) AS BIGINT) AS n_shingles,
      |       CAST(COALESCE(st.n_hits, 0) AS BIGINT) AS n_hits,
      |       COALESCE(st.n_hits, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN st USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    BloomFilterDecontam.decontam(docs,
        docs.where(col("doc_id") % 53 === 0), n = 8, mBits = 15872, k = 3)
      .orderBy("doc_id")
  }

  val qHeavyHitters = Q(
    "q_heavy_hitters",
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |it AS (SELECT substr(t, 1, 1) AS item FROM toks),
      |ex AS (SELECT item, COUNT(*) AS n FROM it GROUP BY item),
      |tot AS (SELECT SUM(n) AS total FROM ex)
      |SELECT item, n, TRUE AS in_sketch, TRUE AS est_ok
      |FROM ex, tot
      |WHERE n * 16 > total
      |ORDER BY n DESC, item""".stripMargin) { (s, dir) =>
    HeavyHitters.hotReport(
      t(s, dir, "documents").select(explode(split(col("text"), " ")).as("tok")),
      substring(col("tok"), 1, 1), m = 15)
  }

  val all: Seq[Q] = Seq(
    qHeavyHitters,
    qQualityRepetition, qTrainShuffle, qBpePairs, qBpeEncode, qEmbedQuant,
    qDecontam, qDecontamClean, qDecontamSpans, qBloomDecontam,
    qDomainMix, qMixUpsample,
    qMixTemperature,
    qDedupExact, qPipelineE2E, qJaccardPairs, qShingleJaccard, qDupClusters,
    qDedupKeep,
    qMinHashLsh, qMinHashSuperset,
    qSimHash, qSimHashSuperset, qEmbedNearDup, qEmbedNearDupLsh, qSemDedup,
    qDiversitySample,
    qAnnCosine, qAnnLsh, qAnnIvfFull, qAnnIvf, qKmeansFull, qKmeans,
    qKmeansTwoLevel, qKmeansTree,
    qTextQuality, qLangId, qTokenStats, qVocabOov, qTfidfKeywords,
    qPerplexity, qSubstringDedup, qDsir, qNbClassify, qNbModel,
    qPcaCov, qPcaProject, qPcaTop2, qHtmlExtract, qUrlNormalize, qFingerprint,
    qFulltextAll, qFulltextAny, qFulltextBm25,
    qStratSample, qSampleExactK, qSeqPack,
    qMultimodalMeta, qMmFeatures, qFrameSample,
    qEventsHourly, qEventsSessions, qEventsJson,
    qAsofJoin, qRangeJoin, qDocChunks, qPiiRedact, qApproxSketch)
}
