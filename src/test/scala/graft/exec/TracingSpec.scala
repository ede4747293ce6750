package graft.exec

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Per-statement span tracing (observability.rs:1-10,323): SET TRACE
  * ON records a span tree per statement into a bounded ring; SHOW
  * TRACES / SHOW TRACE <id> read it back. Wall-clock durations are
  * nondeterministic, so assertions cover structure — names,
  * parentage, nesting, ring bounds — never times.
  */
class TracingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def spansOf(e: QueryEngine, id: Long): Seq[(Long, Long, String, String, Boolean)] =
    e.sql(s"SHOW TRACE $id").collect().toSeq.map(r =>
      (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4),
        r.getBoolean(7)))

  test("OFF by default: statements record nothing") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY)")
    e.sql("INSERT INTO t VALUES (1)")
    assert(e.sql("SHOW TRACES").collect().isEmpty)
  }

  test("a traced INSERT records statement/parse/stage/probe/publish spans") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING NOT NULL)")
    e.sql("SET TRACE ON")
    e.sql("INSERT INTO t VALUES (3, 'c')")
    // newest-first; the running SHOW TRACES statement itself has not
    // completed, so the INSERT is the newest completed trace
    val traces = e.sql("SHOW TRACES").collect()
    assert(traces.nonEmpty)
    val insert = traces.head
    assert(insert.getString(1).startsWith("INSERT INTO t VALUES (3"))
    val spans = spansOf(e, insert.getLong(0))
    val names = spans.map(_._3)
    assert(names.head == "statement")
    assert(names.contains("parse"))
    assert(names.contains("stage-write"))
    assert(names.contains("probe-join"))
    assert(names.contains("publish"))
    // the root has parent -1; every other span's parent exists
    val ids = spans.map(_._1).toSet
    assert(spans.head._2 == -1L)
    assert(spans.tail.forall(s => ids.contains(s._2)))
    assert(spans.forall(_._5), "all spans of a successful statement are ok")
  }

  test("a pk point statement over a snapshot shows its driver read") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE pr (k BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("INSERT INTO pr SELECT id, id FROM range(1, 101)")
    e.sql("SNAPSHOT pr")
    e.sql("SET TRACE ON")
    e.sql("UPDATE pr SET v = 0 WHERE k = 5")
    val update = e.sql("SHOW TRACES").collect().head
    assert(update.getString(1).startsWith("UPDATE pr"))
    val reads = spansOf(e, update.getLong(0)).filter(_._3 == "point-read")
    assert(reads.length == 1, reads)
    assert(reads.head._4.matches("files=\\d+ row_groups=\\d+/\\d+ bytes=\\d+ rows=\\d+"),
      reads.head._4)
    e.close()
  }

  test("a declined fused horizon read names its reason in the trace") {
    // the decline is correct-but-slower (two stateAt reads instead of
    // one fused scan); round 17 makes it OBSERVABLE — a zero-duration
    // span carries the reason, so a slow refresh is diagnosable from
    // SHOW TRACE instead of source-diving
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE tf (k BIGINT PRIMARY KEY, g STRING, v BIGINT)")
    e.sql("INSERT INTO tf VALUES (1,'a',5)")
    e.sql("""CREATE MATERIALIZED VIEW tfv AS
            |SELECT g, COUNT(*) AS n, SUM(v) AS sv
            |FROM tf GROUP BY g""".stripMargin)
    e.sql("INSERT INTO tf VALUES (2,'b',7)")
    e.matViews.disableFusedReads = true
    try {
      e.sql("SET TRACE ON")
      e.sql("REFRESH MATERIALIZED VIEW tfv INCREMENTALLY")
      val traces = e.sql("SHOW TRACES").collect()
      val refresh = traces.find(_.getString(1).startsWith("REFRESH")).get
      val spans = spansOf(e, refresh.getLong(0))
      val decline = spans.filter(_._3 == "fused-read-declined")
      assert(decline.nonEmpty, s"no decline span among ${spans.map(_._3)}")
      assert(decline.exists(_._4.contains("forced by test hook")),
        decline.map(_._4))
    } finally e.matViews.disableFusedReads = false
    // and a normal refresh records NO decline span
    e.sql("INSERT INTO tf VALUES (3,'a',9)")
    e.sql("REFRESH MATERIALIZED VIEW tfv INCREMENTALLY")
    val t2 = e.sql("SHOW TRACES").collect()
      .find(_.getString(1).startsWith("REFRESH")).get
    assert(!spansOf(e, t2.getLong(0)).exists(_._3 == "fused-read-declined"))
    e.close()
  }

  test("trigger body statements nest under the firing statement") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE src (k BIGINT PRIMARY KEY)")
    e.sql("CREATE TABLE aud (k BIGINT PRIMARY KEY)")
    e.sql("""CREATE TRIGGER cp AFTER INSERT ON src EXECUTE
            |INSERT INTO aud SELECT k FROM new_rows""".stripMargin)
    e.sql("SET TRACE ON")
    e.sql("INSERT INTO src VALUES (7)")
    val traces = e.sql("SHOW TRACES").collect()
    val top = traces.head
    assert(top.getString(1).startsWith("INSERT INTO src"))
    val spans = spansOf(e, top.getLong(0))
    // exactly one trace holds BOTH statements: the trigger body is a
    // child "statement" span inside the firing INSERT's trace
    val stmts = spans.filter(_._3 == "statement")
    assert(stmts.size == 2, s"expected nested statement span, got $spans")
    assert(stmts.exists(s => s._4.contains("INSERT INTO aud") && s._2 != -1L))
    assert(!traces.exists(r => r.getString(1).contains("INSERT INTO aud")),
      "trigger body must not surface as its own top-level trace")
  }

  test("a failing statement's spans are recorded with ok=false") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING NOT NULL)")
    e.sql("SET TRACE ON")
    intercept[Exception] { e.sql("INSERT INTO t VALUES (1, NULL)") }
    val traces = e.sql("SHOW TRACES").collect()
    assert(traces.nonEmpty)
    val spans = spansOf(e, traces.head.getLong(0))
    assert(spans.head._3 == "statement" && !spans.head._5,
      "root span of a failed statement carries ok=false")
  }

  test("the ring is bounded at 64 newest traces; OFF clears it") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY)")
    e.sql("SET TRACE ON")
    for (i <- 1 to 70) e.sql(s"SELECT $i AS x")
    val traces = e.sql("SHOW TRACES").collect()
    assert(traces.length == 64)
    // newest-first ordering
    val ids = traces.map(_.getLong(0)).toSeq
    assert(ids == ids.sorted.reverse)
    e.sql("SET TRACE OFF")
    assert(e.sql("SHOW TRACES").collect().isEmpty)
    // unknown id raises a clear error
    e.sql("SET TRACE ON")
    val err = intercept[IllegalArgumentException] { e.sql("SHOW TRACE 999999") }
    assert(err.getMessage.contains("no trace"))
  }

  test("a bounded INSERT..SELECT aggregate takes the collect-literal path") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v DOUBLE)")
    e.sql("CREATE TABLE agg (aid BIGINT PRIMARY KEY, n BIGINT)")
    e.sql("INSERT INTO t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    e.sql("SET TRACE ON")
    // global aggregate source: optimizer proves maxRows = 1, so the
    // batch collects to a LocalRelation — a collect-literal span and
    // NO pin-batch span
    e.sql("""INSERT INTO agg
            |SELECT (SELECT COALESCE(MAX(aid), 0) + 1 FROM agg), COUNT(*)
            |FROM t""".stripMargin)
    val tr = e.sql("SHOW TRACES").collect().head
    val names = spansOf(e, tr.getLong(0)).map(_._3)
    assert(names.contains("collect-literal"), names)
    assert(!names.contains("pin-batch"), names)
    // and the landed row is correct
    assert(e.sql("SELECT aid, n FROM agg").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1))) == Seq((1L, 3L)))
    // an unbounded INSERT..SELECT keeps the pinned path
    e.sql("CREATE TABLE t2 (k BIGINT PRIMARY KEY, v DOUBLE)")
    e.sql("INSERT INTO t2 SELECT k, v FROM t")
    val tr2 = e.sql("SHOW TRACES").collect()
      .find(_.getString(1).startsWith("INSERT INTO t2")).get
    val names2 = spansOf(e, tr2.getLong(0)).map(_._3)
    assert(names2.contains("pin-batch") && !names2.contains("collect-literal"),
      names2)
  }

  test("string batches literalize only under the tight row cap") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE src (k BIGINT PRIMARY KEY, txt STRING)")
    e.sql("INSERT INTO src SELECT id AS k, repeat('x', 10) AS txt " +
      "FROM range(100)")
    e.sql("CREATE TABLE dst (k BIGINT PRIMARY KEY, txt STRING)")
    e.sql("CREATE TABLE dstn (k BIGINT PRIMARY KEY, n BIGINT)")
    e.sql("SET TRACE ON")
    // 1-row aggregate with a string label: inside the string cap (16)
    // -> collect-literal (the trigger/audit-counter floor shape)
    e.sql("INSERT INTO dst SELECT COUNT(*) AS k, 'label' AS txt FROM src")
    val t1 = e.sql("SHOW TRACES").collect().head
    val n1 = spansOf(e, t1.getLong(0)).map(_._3)
    assert(n1.contains("collect-literal") && !n1.contains("pin-batch"), n1)
    // LIMIT 100 with an unbounded string payload: row bound proven but
    // OVER the string cap -> the distributed pin path, never a driver
    // collect (strings don't bound bytes; ADVICE r13)
    e.sql("INSERT INTO dst SELECT k + 1000, txt FROM src LIMIT 100")
    val t2 = e.sql("SHOW TRACES").collect()
      .find(_.getString(1).contains("k + 1000")).get
    val n2 = spansOf(e, t2.getLong(0)).map(_._3)
    assert(n2.contains("pin-batch") && !n2.contains("collect-literal"), n2)
    // the same LIMIT 100 with a fixed-width-only schema stays literal
    // (1024-row cap): bytes are provably bounded by the schema
    e.sql("INSERT INTO dstn SELECT k, k * 2 AS n FROM src LIMIT 100")
    val t3 = e.sql("SHOW TRACES").collect()
      .find(_.getString(1).contains("k * 2")).get
    val n3 = spansOf(e, t3.getLong(0)).map(_._3)
    assert(n3.contains("collect-literal") && !n3.contains("pin-batch"), n3)
  }

  test("streaming ingest records a trace; a replayed batch records none") {
    import spark.implicits._
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE st (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("SET TRACE ON")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tr-ck-").toString
    e.ingestStream("st", Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Some(ckpt), 0L)
    val traces = e.sql("SHOW TRACES").collect()
    val ing = traces.find(_.getString(1).startsWith("INGEST STREAM st")).get
    val names = spansOf(e, ing.getLong(0)).map(_._3)
    assert(names.contains("stage-write") && names.contains("publish"), names)
    assert(spansOf(e, ing.getLong(0)).forall(_._5), "ingest spans all ok")
    // the replay of a committed batch id skips BEFORE the trace opens
    e.ingestStream("st", Seq((3L, "c")).toDF("k", "v"), Some(ckpt), 0L)
    val after = e.sql("SHOW TRACES").collect()
      .count(_.getString(1).startsWith("INGEST STREAM st"))
    assert(after == 1, s"replayed batch must not trace (got $after)")
    assert(e.sql("SELECT COUNT(*) AS n FROM st").collect().head.getLong(0) == 2L)
    // the data-source append and replicated batches share the envelope:
    // each records one trace, and a replayed replicated batch none
    def traced(label: String): Int =
      e.sql("SHOW TRACES").collect().count(_.getString(1).startsWith(label))
    e.ingestFrameAs(e.newSession(), "st", Seq((4L, "d")).toDF("k", "v"))
    assert(traced("INGEST FRAME st") == 1)
    val p = QueryEngine.scratch(spark)
    p.sql("CREATE TABLE rt (k BIGINT PRIMARY KEY, v STRING)")
    p.sql("INSERT INTO rt VALUES (1, 'r')")
    e.sql("CREATE TABLE rt (k BIGINT PRIMARY KEY, v STRING)")
    val raw = spark.read
      .schema(graft.log.EventLog.schema(p.catalog.require("rt").payloadSchema))
      .parquet(p.catalog.logPath("rt"))
    val rck = java.nio.file.Files.createTempDirectory("graft-tr-rk-").toString
    e.commit.applyReplicated("rt", raw, rck, 0L)
    e.commit.applyReplicated("rt", raw, rck, 0L) // replay: skipped
    assert(traced("APPLY REPLICATED rt") == 1)
    assert(e.sql("SELECT COUNT(*) AS n FROM rt").collect().head.getLong(0) == 1L)
    p.close()
  }

  test("SNAPSHOT records a snapshot span; SELECT records state-plan") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v DOUBLE)")
    e.sql("INSERT INTO t VALUES (1, 1.5), (2, 2.5)")
    e.sql("SET TRACE ON")
    e.sql("SNAPSHOT t")
    e.sql("SELECT * FROM t").collect()
    val traces = e.sql("SHOW TRACES").collect()
    val snapTrace = traces.find(_.getString(1).startsWith("SNAPSHOT")).get
    assert(spansOf(e, snapTrace.getLong(0)).exists(s =>
      s._3 == "snapshot" && s._4 == "t"))
    val selTrace = traces.find(_.getString(1).startsWith("SELECT")).get
    assert(spansOf(e, selTrace.getLong(0)).exists(_._3 == "state-plan"))
  }
}
