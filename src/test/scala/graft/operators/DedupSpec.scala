package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The inverted-index Jaccard machinery: the round-10 single-exchange
  * df-cap (window count over the token partitioning) must produce
  * exactly the pairs of the original groupBy-vocab + join-back form,
  * and the exploded token frame must be computed once, not three
  * times. */
class DedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** The pre-round-10 formulation, kept as the independent oracle. */
  private def vocabJoinPairs(docs: DataFrame, n: Int, minJaccard: Double,
      maxDfFrac: Double, maxDf: Long): DataFrame = {
    val tokens0 = docs.select(col("doc_id"),
      explode(Dedup.shingleSet(col("text"), n)).as("tok"))
    val nDocs = docs.agg(count(lit(1)).as("_ndocs"))
    val vocab = tokens0.groupBy("tok").agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(nDocs))
      .where(col("_df") <= lit(maxDfFrac) * col("_ndocs") &&
        col("_df") <= lit(maxDf))
      .select("tok")
    val tokens = tokens0.join(vocab, "tok")
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

  test("window df-cap pairs equal the vocab-join form exactly") {
    val now = Dedup.shingleJaccardPairs(docs, 3, 0.3, 0.8, 100L)
    val old = vocabJoinPairs(docs, 3, 0.3, 0.8, 100L)
    assert(now.exceptAll(old).count() === 0, "extra pairs")
    assert(old.exceptAll(now).count() === 0, "missing pairs")
    assert(now.count() > 0, "fixture produced no near-dup pairs at all")
    graft.Pins.free(now)
  }

  test("the pair plan reads ONE materialized token frame, never re-exploding") {
    // the corpus-sized explode must execute exactly once: the capped
    // token frame is pinned (localCheckpoint), so the downstream plan
    // — both self-join sides and the size aggregation — scans the
    // pinned blocks. A plan that still contains the explode would
    // re-run it per consumer (exchange reuse cannot dedupe these
    // subplans: the lambda-bound transform defeats canonicalization).
    val df = Dedup.shingleJaccardPairs(docs, 3, 0.5, 0.8, 100L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Generate explode"),
      s"explode re-planned downstream of the pin:\n${p.take(2500)}")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("Scan ExistingRDD"),
      s"no pinned token scan in:\n${p.take(2500)}")
    graft.Pins.free(df) // release the shingle-table pin this test made
  }
}
