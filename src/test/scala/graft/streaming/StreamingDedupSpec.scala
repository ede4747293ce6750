package graft.streaming

import graft.TestSpark
import graft.exec.QueryEngine
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.md5
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Incremental streaming dedup: within-batch and cross-batch
  * duplicates dropped, registry and table move atomically, replay
  * after restart admits nothing twice. */
class StreamingDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def setup(e: QueryEngine): Unit = {
    e.sql("CREATE TABLE docs (doc_id BIGINT PRIMARY KEY, text STRING)")
    e.sql("CREATE TABLE seen (fp STRING PRIMARY KEY, doc_id BIGINT)")
  }

  test("within-batch and cross-batch duplicates are dropped, lowest id wins") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = QueryEngine.scratch(spark)
    setup(e)
    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sd-").toString
    val q = StreamingDedup.start(e, "docs", "seen", mem.toDF.toDF("doc_id", "text"),
      md5(col("text")), ckpt, trigger = Trigger.ProcessingTime(0L))
    try {
      // batch 0: 5 rows, one within-batch duplicate pair (7 copies 2)
      mem.addData((2L, "alpha"), (7L, "alpha"), (3L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      // batch 1: one cross-batch duplicate (beta), one new
      mem.addData((9L, "beta"), (10L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    def rows(sql: String): Seq[Row] = e.sql(sql).collect().toSeq
    assert(rows("SELECT doc_id, text FROM docs ORDER BY doc_id")
      === Seq(Row(2L, "alpha"), Row(3L, "beta"), Row(5L, "gamma"), Row(10L, "delta")))
    // the registry tracked each admitted fingerprint with its doc
    assert(rows("SELECT doc_id FROM seen ORDER BY doc_id")
      === Seq(Row(2L), Row(3L), Row(5L), Row(10L)))
    // registry and table committed atomically, batch by batch: at the
    // first batch's horizon the registry holds exactly that batch
    assert(rows("SELECT COUNT(*) AS n FROM docs FOR SYSTEM_TIME AS OF @SEQ:3")
      === Seq(Row(3L)))
    // temporal audit: when did 'beta' become seen?
    assert(rows("SELECT COUNT(*) AS n FROM seen") === Seq(Row(4L)))
  }

  test("restart replay admits nothing twice; dedup continues past it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = QueryEngine.scratch(spark)
    setup(e)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sd-").toString
    val mem = MemoryStream[(Long, String)]
    val q1 = StreamingDedup.start(e, "docs", "seen", mem.toDF.toDF("doc_id", "text"),
      md5(col("text")), ckpt, trigger = Trigger.ProcessingTime(0L))
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    // resume from the same checkpoint: the engine's committed batch id
    // makes any replay a no-op, and new duplicates still dedup against
    // the registry built before the restart
    val q2 = StreamingDedup.start(e, "docs", "seen", mem.toDF.toDF("doc_id", "text"),
      md5(col("text")), ckpt, trigger = Trigger.ProcessingTime(0L))
    try {
      mem.addData((3L, "b"), (4L, "c"))
      q2.processAllAvailable()
    } finally q2.stop()
    def rows(sql: String): Seq[Row] = e.sql(sql).collect().toSeq
    assert(rows("SELECT doc_id, text FROM docs ORDER BY doc_id")
      === Seq(Row(1L, "a"), Row(2L, "b"), Row(4L, "c")))
    assert(rows("SELECT COUNT(*) AS n FROM seen") === Seq(Row(3L)))
    // sequences stayed contiguous across the restart (no replayed gap)
    assert(rows("SELECT sequence FROM docs FOR SYSTEM_TIME ALL ORDER BY sequence")
      === Seq(Row(1L), Row(2L), Row(3L)))
  }

  test("an all-duplicates batch commits its id but no events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = QueryEngine.scratch(spark)
    setup(e)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sd-").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(e, "docs", "seen", mem.toDF.toDF("doc_id", "text"),
      md5(col("text")), ckpt, trigger = Trigger.ProcessingTime(0L))
    try {
      mem.addData((1L, "x"))
      q.processAllAvailable()
      mem.addData((2L, "x"), (3L, "x")) // nothing new
      q.processAllAvailable()
      mem.addData((4L, "y"))
      q.processAllAvailable()
    } finally q.stop()
    def rows(sql: String): Seq[Row] = e.sql(sql).collect().toSeq
    assert(rows("SELECT doc_id FROM docs ORDER BY doc_id") === Seq(Row(1L), Row(4L)))
    // the empty middle batch left no events behind
    assert(rows("SELECT COUNT(*) AS n FROM docs FOR SYSTEM_TIME ALL") === Seq(Row(2L)))
  }
  test("exactly InlineKeyCap non-null fingerprints plus NULLs probe the registry inline") {
    // the NULL-fingerprint group's first row is no probe key: a batch of
    // 256 (= InlineKeyCap) distinct non-null fingerprints plus NULL-text
    // rows fits the inline IN-list probe and must take it
    import scala.jdk.CollectionConverters._
    val e = QueryEngine.scratch(spark)
    setup(e)
    def batch(rows: Seq[(Long, String)]) =
      spark.createDataFrame(rows).toDF("doc_id", "text")
    StreamingDedup.ingestDeduped(e, "docs", "seen", batch(Seq(1L -> "t0")),
      md5(col("text")), None, 0L)
    val rows = (0 until 256).map(i => (100L + i, s"t$i")) ++
      Seq((1000L, null: String), (1001L, null: String))
    val jobs = graft.GroupJobs(spark, "dedup-inline-cap")
    val sc = spark.sparkContext
    sc.setJobGroup(jobs.group, "boundary batch")
    try StreamingDedup.ingestDeduped(e, "docs", "seen", batch(rows), md5(col("text")),
      None, 1L)
    finally sc.clearJobGroup()
    try {
      jobs.sync()
      // the inline probe is the limit(cap + 1) collect of the batch's
      // non-null fingerprints
      assert(jobs.plans.asScala.exists(p =>
          p.contains("CollectLimit") && p.contains("isnotnull(__fp")),
        "the registry read skipped the inline IN-list probe")
    } finally jobs.close()
    // t0 was seen in the first batch; the NULL-text group keeps its
    // lowest pk
    assert(e.sql("SELECT doc_id FROM docs ORDER BY doc_id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L) ++ (101L until 356L) :+ 1000L)
  }
}
