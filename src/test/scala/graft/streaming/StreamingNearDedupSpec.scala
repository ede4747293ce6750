package graft.streaming

import graft.TestSpark
import graft.exec.QueryEngine
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Incremental streaming NEAR-dup dedup: shingle-Jaccard drops within
  * and across batches under seen semantics, registry postings move
  * atomically with the table, replay after restart admits nothing
  * twice, and a drop CHAIN (near-dup of a dropped doc) still drops. */
class StreamingNearDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def setup(e: QueryEngine): Unit = {
    e.sql("CREATE TABLE docs (doc_id BIGINT PRIMARY KEY, text STRING)")
    e.sql("""CREATE TABLE idx (pk STRING PRIMARY KEY, tok STRING,
            |doc_id BIGINT, n BIGINT)""".stripMargin)
  }

  private def start(e: QueryEngine, mem: MemoryStream[(Long, String)],
      ckpt: String) =
    StreamingDedup.startNearDup(e, "docs", "idx",
      mem.toDF.toDF("doc_id", "text"), col("text"),
      shingleN = 2, minJaccard = 0.5, checkpointDir = ckpt,
      trigger = Trigger.ProcessingTime(0L))

  test("near-dups drop within and across batches; earlier doc wins; chains drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = QueryEngine.scratch(spark)
    setup(e)
    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snd-").toString
    val q = start(e, mem, ckpt)
    try {
      // batch 0: 3 and 7 share most 2-shingles (near-dups); 5 distinct
      mem.addData(
        (3L, "the quick brown fox jumps high"),
        (7L, "the quick brown fox jumps low"),
        (5L, "entirely different words appear here"))
      q.processAllAvailable()
      // batch 1: 9 near-dups the DROPPED 7 (and 3) -> still dropped
      // (seen semantics); 11 is new
      mem.addData(
        (9L, "the quick brown fox jumps away"),
        (11L, "novel content with no overlap"))
      q.processAllAvailable()
    } finally q.stop()
    def rows(sql: String): Seq[Row] = e.sql(sql).collect().toSeq
    assert(rows("SELECT doc_id FROM docs ORDER BY doc_id")
      === Seq(Row(3L), Row(5L), Row(11L)))
    // seen semantics: the registry indexes EVERY seen doc, dropped ones
    // included — 5 docs' postings
    assert(rows("SELECT COUNT(DISTINCT doc_id) AS n FROM idx")
      === Seq(Row(5L)))
    // docs and registry committed atomically per batch: at batch 0's
    // docs horizon the registry holds exactly batch 0's three docs
    assert(rows("SELECT COUNT(*) AS n FROM docs FOR SYSTEM_TIME AS OF @SEQ:2")
      === Seq(Row(2L)))
  }

  test("restart replay admits nothing twice; near-dedup continues past it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = QueryEngine.scratch(spark)
    setup(e)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snd-").toString
    val mem = MemoryStream[(Long, String)]
    val q1 = start(e, mem, ckpt)
    try {
      mem.addData((1L, "alpha beta gamma delta"), (2L, "unrelated tokens entirely here"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start(e, mem, ckpt)
    try {
      mem.addData((3L, "alpha beta gamma epsilon"), (4L, "fresh new document body"))
      q2.processAllAvailable()
    } finally q2.stop()
    def rows(sql: String): Seq[Row] = e.sql(sql).collect().toSeq
    // 3 near-dups 1 (shares 2 of its 3 2-shingles -> jacc 0.5); 4 new
    assert(rows("SELECT doc_id FROM docs ORDER BY doc_id")
      === Seq(Row(1L), Row(2L), Row(4L)))
    // sequences contiguous across the restart: no replayed gap
    assert(rows("SELECT sequence FROM docs FOR SYSTEM_TIME ALL ORDER BY sequence")
      === Seq(Row(1L), Row(2L), Row(3L)))
  }

  test("random corpora and batch splits match the brute-force reference (property)") {
    import spark.implicits._
    // plain-Scala reference: d survives iff no earlier doc (seen, kept
    // or not) reaches the Jaccard threshold on distinct 2-shingles
    def shingles(text: String): Set[String] = {
      val w = text.split(" ", -1)
      if (w.length < 2) Set.empty
      else w.sliding(2).map(_.mkString("_")).toSet
    }
    def reference(docs: Seq[(Long, String)], theta: Double): Seq[Long] = {
      val sorted = docs.sortBy(_._1)
      sorted.filter { case (d, td) =>
        val sd = shingles(td)
        !sorted.exists { case (e, te) =>
          e < d && {
            val se = shingles(te)
            val i = (se & sd).size
            se.nonEmpty && sd.nonEmpty &&
              i.toDouble / (se.size + sd.size - i) >= theta
          }
        }
      }.map(_._1)
    }
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    for (trial <- 0 until 5) {
      val docs = (0 until 24).map(i =>
        (i.toLong, Seq.fill(2 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")))
      val e = QueryEngine.scratch(spark)
      setup(e)
      // random ascending batch split (1-4 batches)
      val cuts = (Seq(0, 24) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(24)))
        .distinct.sorted
      for (Seq(lo, hi) <- cuts.sliding(2))
        StreamingDedup.ingestNearDedup(e, "docs", "idx",
          docs.slice(lo, hi).toDF("doc_id", "text"), col("text"),
          shingleN = 2, minJaccard = 0.5, maxDf = Long.MaxValue, None, -1L)
      val got = e.sql("SELECT doc_id FROM docs ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got === reference(docs, 0.5),
        s"trial $trial cuts $cuts docs $docs")
    }
  }

  test("out-of-order batch ids are rejected unless arrival-order is opted into") {
    import spark.implicits._
    val e = QueryEngine.scratch(spark)
    setup(e)
    def ingest(docs: Seq[(Long, String)], ordered: Boolean = true): Unit =
      StreamingDedup.ingestNearDedup(e, "docs", "idx", docs.toDF("doc_id", "text"),
        col("text"), shingleN = 2, minJaccard = 0.5,
        maxDf = Long.MaxValue, None, -1L, requireOrdered = ordered)
    ingest(Seq((100L, "alpha beta gamma delta")))
    // id 5 < the registry's max: the id-order semantics would be
    // silently inverted, so the default contract refuses the batch
    val err = intercept[IllegalArgumentException](
      ingest(Seq((5L, "alpha beta gamma epsilon"))))
    assert(err.getMessage.contains("ascending pk ranges"))
    // arrival-order semantics accept it: the earlier-SEEN doc wins
    // regardless of id, so 5 (a near-dup of seen 100) is dropped
    ingest(Seq((5L, "alpha beta gamma epsilon")), ordered = false)
    assert(e.sql("SELECT doc_id FROM docs ORDER BY doc_id").collect().toSeq
      === Seq(org.apache.spark.sql.Row(100L)))
  }

  test("ordered guard is a metadata compare: no full-registry aggregate per batch") {
    import spark.implicits._
    val e = QueryEngine.scratch(spark)
    setup(e)
    def ingest(docs: Seq[(Long, String)]): Unit =
      StreamingDedup.ingestNearDedup(e, "docs", "idx", docs.toDF("doc_id", "text"),
        col("text"), shingleN = 2, minJaccard = 0.5,
        maxDf = Long.MaxValue, None, -1L)
    ingest(Seq((1L, "alpha beta gamma delta"),
      (2L, "unrelated tokens entirely here")))
    // the watermark committed with the batch's atomic manifest
    assert(e.catalog.watermark("idx") === Some(2L))
    // capture every action's analyzed plan during the next batch
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.analyzed)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ingest(Seq((3L, "alpha beta gamma epsilon"),
        (4L, "fresh new document body")))
      // QueryExecutionListener delivery is async: drain until the
      // captured set is stable
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = plans.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      import scala.jdk.CollectionConverters._
      def readsRegistry(
          p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
        p.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.exists(_.toString.contains("/tables/idx/"))
              case _ => false
            }
          case _ => false
        }
      // the only groupless aggregate over registry files would be the
      // pre-watermark fallback guard — with the watermark present the
      // batch must not collapse the registry
      val offending = plans.asScala.toList.filter(p => p.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty && readsRegistry(a.child) => a
      }.nonEmpty)
      assert(plans.size() > 0, "listener captured no actions")
      assert(offending.isEmpty,
        s"batch ingest collapsed the registry:\n${offending.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
    // watermark advanced with the second batch
    assert(e.catalog.watermark("idx") === Some(4L))
    // and persists across a catalog reload (engine restart)
    e.catalog.reload()
    assert(e.catalog.watermark("idx") === Some(4L))
  }

  test("TRUNCATE resets the watermark: a rebuilt pipeline re-ingests from pk 1") {
    import spark.implicits._
    val e = QueryEngine.scratch(spark)
    setup(e)
    def ingest(docs: Seq[(Long, String)]): Unit =
      StreamingDedup.ingestNearDedup(e, "docs", "idx", docs.toDF("doc_id", "text"),
        col("text"), shingleN = 2, minJaccard = 0.5,
        maxDf = Long.MaxValue, None, -1L)
    ingest(Seq((100L, "alpha beta gamma delta")))
    assert(e.catalog.watermark("idx") === Some(100L))
    e.sql("TRUNCATE idx")
    e.sql("TRUNCATE docs")
    assert(e.catalog.watermark("idx") === None)
    // low ids are admissible again — the registry state is empty
    ingest(Seq((1L, "totally new words here")))
    assert(e.sql("SELECT doc_id FROM docs ORDER BY doc_id").collect().toSeq
      === Seq(org.apache.spark.sql.Row(1L)))
    assert(e.catalog.watermark("idx") === Some(1L))
  }

  test("string pks keep the content-derived ordered guard (no silent null-out)") {
    import spark.implicits._
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE sdocs (doc_id STRING PRIMARY KEY, text STRING)")
    e.sql("""CREATE TABLE sidx (pk STRING PRIMARY KEY, tok STRING,
            |doc_id STRING, n BIGINT)""".stripMargin)
    def ingest(docs: Seq[(String, String)], ordered: Boolean = true): Unit =
      StreamingDedup.ingestNearDedup(e, "sdocs", "sidx", docs.toDF("doc_id", "text"),
        col("text"), shingleN = 2, minJaccard = 0.5,
        maxDf = Long.MaxValue, None, -1L, requireOrdered = ordered)
    ingest(Seq(("doc-b", "alpha beta gamma delta")))
    // "doc-a" < "doc-b": the ordered contract must still refuse, even
    // though the metadata watermark cannot represent a string pk
    val err = intercept[IllegalArgumentException](
      ingest(Seq(("doc-a", "alpha beta gamma epsilon"))))
    assert(err.getMessage.contains("ascending pk ranges"))
    // arrival-order semantics accept it; the seen doc wins
    ingest(Seq(("doc-a", "alpha beta gamma epsilon")), ordered = false)
    assert(e.sql("SELECT doc_id FROM sdocs ORDER BY doc_id").collect().toSeq
      === Seq(org.apache.spark.sql.Row("doc-b")))
  }

  test("docs too short for a shingle always admit and index nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = QueryEngine.scratch(spark)
    setup(e)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snd-").toString
    val mem = MemoryStream[(Long, String)]
    val q = start(e, mem, ckpt)
    try {
      mem.addData((1L, "solo"), (2L, "solo"))
      q.processAllAvailable()
    } finally q.stop()
    def rows(sql: String): Seq[Row] = e.sql(sql).collect().toSeq
    assert(rows("SELECT doc_id FROM docs ORDER BY doc_id")
      === Seq(Row(1L), Row(2L)))
    assert(rows("SELECT COUNT(*) AS n FROM idx") === Seq(Row(0L)))
  }
}
