package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora (training-data
  * pipeline extensions beyond DriftDB parity — SURVEY §7.2 step 7).
  *
  * Scale design notes (100 TB corpus):
  *  - exact dedup is one hash-shuffle on the digest — no driver state;
  *  - the Jaccard inverted-index join caps token document frequency
  *    first: one boilerplate token shared by f docs creates an f²
  *    bucket, so hot tokens are dropped from the vocabulary before the
  *    join (standard stopword df-cap);
  *  - MinHash/LSH turns the O(n²) pair space into per-band buckets;
  *  - SimHash candidates come from bit-block buckets (pigeonhole: two
  *    64-bit hashes within Hamming distance d share at least one of b
  *    blocks whenever d < b), never from an all-pairs product.
  */
object Dedup {

  /** Exact duplicate groups by content digest over a normalized key.
    * One shuffle; digest-keyed so 100 TB dedups with bounded memory. */
  def exactGroups(docs: DataFrame, key: Column): DataFrame =
    docs.groupBy(md5(key).as("dup_key"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("first_id"))

  /** Tokenize into a deduplicated word array. */
  def wordSet(text: Column): Column = array_distinct(split(text, " "))

  /** Pairwise word-set Jaccard similarity over candidate docs via an
    * inverted-index join (not a cartesian product). Tokens whose
    * document frequency exceeds `maxDfFrac` of the corpus are dropped
    * from the vocabulary first — an unbounded hot token (stopword,
    * boilerplate) would otherwise create a quadratic bucket in the
    * self-join. The fractional cap alone is not scale-safe: a token in
    * 79% of 10⁹ docs still passes `maxDfFrac = 0.8` and makes its
    * bucket ~0.6·n² pairs, so an ABSOLUTE cap `maxDf` bounds every
    * bucket to maxDf² regardless of corpus size (docs sharing only
    * ultra-hot tokens belong on the MinHash path instead). Set sizes
    * and intersections are both computed over the capped vocabulary, so
    * the ratio stays a true Jaccard of the filtered sets; all-integer
    * ratios keep results engine-exact. */
  def jaccardPairs(
      docs: DataFrame,
      minJaccard: Double,
      maxDfFrac: Double = 0.8,
      maxDf: Long = 10000L): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(wordSet(col("text"))).as("tok"))
    tokenJaccardPairs(toks, docs, minJaccard, maxDfFrac, maxDf)
  }

  /** Distinct word n-gram (shingle) array — `n` consecutive words
    * joined with '_'. Shingles see word ORDER, so reordered docs that
    * share a word set stop matching: the standard upgrade from set
    * Jaccard for near-dup detection. Documents shorter than n words
    * have no shingles. */
  def shingleSet(text: Column, n: Int): Column = {
    val words = split(text, " ")
    when(size(words) >= n,
      array_distinct(transform(sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws("_", slice(words, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** n-gram Jaccard near-dup pairs: jaccardPairs over shingles instead
    * of single words, same df-caps and inverted-index join shape. */
  def shingleJaccardPairs(
      docs: DataFrame,
      n: Int,
      minJaccard: Double,
      maxDfFrac: Double = 0.8,
      maxDf: Long = 10000L): DataFrame = {
    val toks =
      docs.select(col("doc_id"), explode(shingleSet(col("text"), n)).as("tok"))
    tokenJaccardPairs(toks, docs, minJaccard, maxDfFrac, maxDf)
  }

  /** Shared inverted-index Jaccard machinery over a (doc_id, tok)
    * frame; see jaccardPairs for the df-cap scale rationale. The caps
    * already bound every bucket, so AllPairs/PPJoin prefix filtering
    * (Bayardo et al. WWW'07) does not pay here: over the same frame it
    * measured 6.49 s against this join's 3.07 s on sf0.1 shingles
    * (n=3, t=0.5), with identical output. */
  private def tokenJaccardPairs(
      tokens0: DataFrame,
      docs: DataFrame,
      minJaccard: Double,
      maxDfFrac: Double,
      maxDf: Long): DataFrame = {
    // the exploded (doc_id, tok) frame shuffles corpus-scale (the
    // sf100 OOM site, SCALE.md): size the exchange from the docs scan
    // bytes — exploded token/shingle rows run a small multiple of raw
    // text bytes, and the window's in-memory sort buffers a larger
    // one, so 8× on-disk is the conservative raise (oversize is
    // AQE-coalesced, undersize is fatal)
    graft.ShuffleSizing.ensureForScan(docs, expansion = 8.0)
    val nDocs = docs.agg(count(lit(1)).as("_ndocs"))
    // document-frequency cap via ONE window over the token
    // partitioning instead of a (groupBy tok → join back) pair, then
    // the capped frame MATERIALIZED once: the exploded (doc_id, tok)
    // frame — the corpus-sized intermediate — feeds three consumers
    // (both self-join sides and the per-doc size aggregation), and
    // the former vocab join re-ran the explode for each of them
    // (exchange reuse cannot dedupe these subplans: the explode's
    // lambda-bound transform defeats plan canonicalization). The
    // explicit pin is the classic dedup "shingle table"
    // materialization — disk-backed blocks, one explode + one token
    // shuffle total at any scale. The pin is freed deterministically
    // by Components.connectedComponents once its own edge pin holds
    // the derived pairs, or by the harness sweep for plain pair
    // queries.
    val tokens = tokens0
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("tok")))
      .crossJoin(broadcast(nDocs))
      .where(col("_df") <= lit(maxDfFrac) * col("_ndocs") &&
        col("_df") <= lit(maxDf))
      .select("doc_id", "tok")
      .localCheckpoint()
    val sizes = tokens.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = tokens.as("a")
    val b = tokens.as("b")
    val inter = a.join(b,
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .withColumn("jacc",
        (col("i").cast("double") / (col("n1") + col("n2") - col("i"))).cast("double"))
      .where(col("jacc") >= minJaccard)
      .select("d1", "d2", "jacc")
  }

  /** Embedding-cosine near-duplicate pairs. `lshBits = 0` scores every
    * pair exactly (correctness baseline; quadratic — subset your
    * corpus); `lshBits > 0` prefilters candidates to same-LSH-bucket
    * vectors before exact re-scoring, the 100 TB shape (recall < 1 by
    * construction, like every LSH method). Scores are exact cosine
    * either way — bucketing prunes candidates, never changes scores. */
  def cosineNearDupPairs(
      embeddings: DataFrame,
      minSim: Double,
      lshBits: Int = 0): DataFrame = {
    val l = embeddings.select(col("vec_id").as("d1"), col("embedding").as("e1"))
    val r = embeddings.select(col("vec_id").as("d2"), col("embedding").as("e2"))
    val cand =
      if (lshBits <= 0) l.join(r, col("d1") < col("d2"))
      else l.withColumn("bucket", Similarity.lshBucket(col("e1"), lshBits))
        .join(r.withColumn("bucket", Similarity.lshBucket(col("e2"), lshBits)),
          "bucket")
        .where(col("d1") < col("d2"))
    cand
      .withColumn("sim_e5",
        floor(Similarity.cosine(col("e1"), col("e2")) * lit(1e5) + lit(0.5)))
      .where(col("sim_e5") >= lit(math.floor(minSim * 1e5 + 0.5).toLong))
      .select("d1", "d2", "sim_e5")
  }

  /** MinHash signatures: `perms` permutations approximated by seeded
    * xxhash64 (codegen'd, no UDF); signature[i] = min over words of
    * hash(i, word). */
  def minHashSignatures(docs: DataFrame, perms: Int): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(wordSet(col("text"))).as("word"))
    val sigCols = (0 until perms).map(i =>
      min(xxhash64(lit(i), col("word"))).as(s"h$i"))
    words.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** MinHash + LSH candidate pairs: split the signature into bands of
    * `rowsPerBand`, hash each band, and self-join per (band, hash)
    * bucket. Returns (d1, d2, n_bands) — pairs colliding in >= 1 band.
    * Two docs with identical word sets have identical signatures and
    * therefore collide in every band — guaranteed candidates (the
    * invariant q_minhash_superset verifies). */
  def minHashCandidates(docs: DataFrame, perms: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minHashSignatures(docs, perms)
    val nBands = perms / rowsPerBand
    val banded = (0 until nBands).map { bnd =>
      val cols = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(i => col(s"h$i"))
      sigs.select(col("doc_id"), lit(bnd).as("band"),
        xxhash64(cols: _*).as("bucket"))
    }.reduce(_ union _)
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** 64-bit SimHash per document: each word votes its hash bits up or
    * down; the sign vector is packed back into a long. Pure
    * `functions._` — stays inside whole-stage codegen. */
  def simHash(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(wordSet(col("text"))).as("word"))
      .withColumn("h", xxhash64(col("word")))
    val bits = words.select(col("doc_id"),
      explode(sequence(lit(0), lit(63))).as("i"),
      col("h"))
      .withColumn("vote",
        when(expr("shiftright(h, i) & 1") === 1, 1).otherwise(-1))
      .groupBy("doc_id", "i")
      .agg(sum(col("vote")).as("v"))
    bits.groupBy("doc_id")
      .agg(sum(when(col("v") > 0, expr("shiftleft(cast(1 as bigint), i)"))
        .otherwise(0L)).as("simhash"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance <= maxDist.
    * Candidate generation is a bit-block bucket self-join: the 64-bit
    * hash splits into `blocks` equal blocks; by pigeonhole any pair
    * within distance < `blocks` matches exactly on at least one
    * (block-index, block-value) key, so the equi-join recalls every
    * qualifying pair without an all-pairs product. Exact
    * bit_count(xor) re-scoring then drops false candidates — the
    * result set is identical to the quadratic form. */
  def simHashPairs(docs: DataFrame, maxDist: Int, blocks: Int = 16): DataFrame = {
    require(maxDist < blocks,
      s"recall guarantee needs maxDist < blocks ($maxDist >= $blocks)")
    require(64 % blocks == 0, s"blocks must divide 64 (got $blocks)")
    val width = 64 / blocks
    val mask = (1L << width) - 1
    val s = simHash(docs)
    val banded = s.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(blocks - 1))).as("blk"))
      .withColumn("blkval",
        expr(s"shiftrightunsigned(simhash, blk * $width) & $mask"))
    val l = banded.select(col("blk"), col("blkval"),
      col("doc_id").as("d1"), col("simhash").as("s1"))
    val r = banded.select(col("blk"), col("blkval"),
      col("doc_id").as("d2"), col("simhash").as("s2"))
    l.join(r, Seq("blk", "blkval"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2", "s1", "s2").distinct()
      .withColumn("dist", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .where(col("dist") <= maxDist)
      .select("d1", "d2", "dist")
  }
}
