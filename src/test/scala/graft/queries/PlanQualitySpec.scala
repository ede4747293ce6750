package graft.queries

import graft.TestSpark
import graft.operators.{AsOfJoin, RangeJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the properties that decide whether
  * a query survives a 100x scale-up, pinned as regression tests:
  * filters reach the parquet scan, scans prune to the projected
  * columns, small dimensions broadcast, aggregation is partial
  * (map-side combine), the hot path stays inside whole-stage codegen,
  * and the custom joins never degenerate into nested-loop products.
  */
class PlanQualitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame =
    Pipeline.all.find(_.name == name)
      .orElse(Relational.all.find(_.name == name))
      .getOrElse(fail(s"query missing: $name")).run(spark, sf)

  test("filters push down to the parquet scan; scans prune columns") {
    val df = Relational.all.find(_.name == "q_scan_filter").get.run(spark, sf)
    val p = plan(df)
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.contains("PushedFilters: []"),
      "scan pushed no filters:\n" + p.take(2000))
    // the lineitem scan must not read all 16 columns for a narrow query
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(_.split(",").length <= 8),
      s"scan reads too many columns: $readSchemas")
  }

  test("small dimension tables broadcast; aggregates combine map-side") {
    val joins = plan(Relational.all.find(_.name == "q_multi_join").get.run(spark, sf))
    assert(joins.contains("BroadcastHashJoin"), joins.take(3000))
    assert(!joins.contains("CartesianProduct") &&
      !joins.contains("BroadcastNestedLoopJoin"), joins.take(3000))
    val aggDf = Relational.all.find(_.name == "q1_agg").get.run(spark, sf)
    // partial + final HashAggregate pair = map-side combine before the
    // shuffle; whole-stage codegen hosts the hot path. AQE only shows
    // codegen ids in the FINAL plan, so execute first.
    aggDf.collect()
    val agg = plan(aggDf)
    assert("HashAggregate".r.findAllIn(agg).length >= 2, agg.take(3000))
    assert(agg.contains("codegen id"), agg.take(3000))
  }

  test("as-of and range joins never plan a nested-loop product") {
    import spark.implicits._
    val left = (1L to 200L).map(i => (i % 7, i, i)).toDF("k", "t", "lid")
    val right = (1L to 300L).map(i => (i % 7, i - 3, i.toDouble)).toDF("k", "rt", "v")
    val asof = AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v"))
    val pa = plan(asof)
    assert(!pa.contains("CartesianProduct") &&
      !pa.contains("BroadcastNestedLoopJoin"), pa.take(3000))
    // the union-tag design needs ONE key shuffle for the window, not a
    // join shuffle pair (AQE may add coalesce reads, never more hashes)
    assert("Exchange hashpartitioning".r.findAllIn(pa).length <= 2, pa.take(3000))
    val ts = (c: org.apache.spark.sql.Column) => timestamp_seconds(c * 3600)
    val ranged = RangeJoin.binned(
      left.select(ts(col("t")).as("p"), col("lid")),
      col("p"),
      right.select(ts(col("rt")).as("lo"), ts(col("rt") + 5).as("hi"), col("v")),
      col("lo"), col("hi"), binDays = 1)
    val pr = plan(ranged)
    assert(!pr.contains("CartesianProduct") &&
      !pr.contains("BroadcastNestedLoopJoin"), pr.take(3000))
  }

  test("the dedup candidate paths are equi-joins, not products") {
    for (name <- Seq("q_jaccard_pairs", "q_minhash_superset", "q_fulltext_bm25")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian")
    }
  }

  test("decontamination broadcasts the eval shingle set; the corpus never sort-merges") {
    val p = plan(q("q_decontam"))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the train corpus shuffled for the eval join:\n" + p.take(3000))
  }

  test("mixture sampling is a broadcast plan + scan-stage filter") {
    val p = plan(q("q_domain_mix"))
    // the per-domain plan joins back by broadcast; the only shuffle in
    // the whole query is the dozens-row domain aggregate (+ the final
    // presentation sort) — never a corpus repartition
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("the NB classifier broadcasts its model; the corpus never sort-merges") {
    val p = plan(q("q_nb_classify"))
    // the vocab x classes model and the |C|-row class table both ride
    // broadcast joins; the only corpus-keyed shuffles are the tf
    // aggregation and the per-doc argmax window
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the corpus sort-merged against the model:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("web extraction and URL keys are scan-stage: no exchange before the sort") {
    for (name <- Seq("q_html_extract", "q_url_normalize")) {
      val p = plan(q(name))
      // one presentation sort at the top; everything below runs inside
      // the parquet scan's stage
      assert(!p.contains("HashAggregate") && !p.contains("Join"),
        s"$name left the scan stage:\n" + p.take(3000))
      // the only exchange is the presentation sort's range partitioning
      // (each plan node appears twice in formatted output: tree + detail)
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
      assert(exchanges <= 1, s"$name plans $exchanges exchanges:\n" + p.take(3000))
      assert(!p.contains("hashpartitioning"),
        s"$name shuffled on a hash key:\n" + p.take(3000))
    }
  }

  test("pk point lookups push through the state collapse to the scan") {
    val e = graft.exec.QueryEngine.scratch(spark)
    e.sql("CREATE TABLE pt (k BIGINT PRIMARY KEY, v STRING)")
    // past the literal row cap, so the batch is job-written and the
    // read collapses the log from storage (a smaller literal batch
    // would stay on the driver and read as a LocalRelation)
    e.sql("INSERT INTO pt SELECT id, CONCAT('v', id) FROM range(9000)")
    e.sql("UPDATE pt SET v = 'u' WHERE k < 2000") // PATCHes: a real collapse
    // the collapse is keyed on the payload pk attribute, so a pk
    // predicate must reach the parquet scan as a pushed nested filter -
    // a plan that collapses the whole log first fails a 100 TB point
    // lookup no matter how fast everything above it is. A range keeps
    // the collapse over the pruned scan
    val dr = e.sql("SELECT k, v FROM pt WHERE k BETWEEN 76 AND 77")
    val pr = plan(dr)
    assert(pr.contains("Window") && pr.contains("GreaterThanOrEqual(payload.k,76)") &&
      pr.contains("LessThanOrEqual(payload.k,77)"),
      "pk predicate did not reach the scan:\n" + pr.take(3000))
    assert(dr.collect().map(_.getString(1)).toSeq === Seq("u", "u"))
    // a literal key goes further: the log's candidate row groups decode
    // on the driver and the collapse folds there with them - no
    // window, no scan, no job
    val df = e.sql("SELECT k, v FROM pt WHERE k = 77")
    val p = plan(df)
    assert(p.contains("LocalTableScan") && !p.contains("Window") &&
      !p.contains("Scan parquet"), "pk read did not fold to the driver:\n" + p.take(3000))
    assert(df.collect().map(_.getString(1)).toSeq === Seq("u"))
    // a snapshot plus a driver-held tail that PATCHes the key: the
    // snapshot row groups that can hold the key decode on the driver at
    // optimize time, and the filter, the tail fold and the union fold
    // with them into one LocalTableScan — no collapse, no scan, no job
    e.sql("SNAPSHOT pt")
    e.sql("UPDATE pt SET v = 't' WHERE k = 77")
    val dt = e.sql("SELECT k, v FROM pt WHERE k = 77")
    val pt = plan(dt)
    assert(pt.contains("LocalTableScan") && !pt.contains("Window") &&
      !pt.contains("Scan parquet"), "pk read did not fold to the driver:\n" + pt.take(3000))
    assert(dt.collect().map(_.getString(1)).toSeq === Seq("t"))
    // past the driver read's byte budget (~10 MB of candidate row
    // groups) the snapshot scan stays, and the pk predicate still
    // reaches it as a pushed nested filter
    e.sql("CREATE TABLE pw (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO pw SELECT id, repeat(sha2(CAST(id AS STRING), 512), 4) " +
      "FROM range(20000)")
    e.sql("SNAPSHOT pw")
    e.sql("UPDATE pw SET v = 'w' WHERE k = 77")
    val dw = e.sql("SELECT k, v FROM pw WHERE k = 77")
    val pw = plan(dw)
    assert(!pw.contains("Window") && pw.contains("EqualTo(payload.k,77)"),
      "pk predicate did not reach the snapshot scan:\n" + pw.take(3000))
    assert(dw.collect().map(_.getString(1)).toSeq === Seq("w"))
    e.close()
  }

  test("narrow queries prune the payload struct through the collapse") {
    val e = graft.exec.QueryEngine.scratch(spark)
    e.sql("""CREATE TABLE wide (k BIGINT PRIMARY KEY, a STRING, b STRING,
            |c STRING, d STRING, e2 STRING, f STRING, g STRING)""".stripMargin
      .replace("\n", " "))
    // past the literal row cap: the read collapses the log from storage
    e.sql("INSERT INTO wide SELECT id, 'a','b','c','d','e','f','g' FROM range(9000)")
    e.sql("UPDATE wide SET a = 'x' WHERE k < 10")
    def payloadReads(p: String): Seq[String] =
      "payload:struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    val p = plan(e.sql("SELECT k, a FROM wide"))
    val structs = payloadReads(p)
    assert(p.contains("Window") && structs.nonEmpty, p.take(2000))
    assert(structs.forall(_.split(",").length <= 2),
      s"collapse read the whole payload for a 2-column query: $structs")
    // a snapshot plus a driver-held tail that PATCHes keys: the
    // snapshot scan reads the two fields too
    e.sql("SNAPSHOT wide")
    e.sql("UPDATE wide SET b = 'y' WHERE k = 3")
    val pt = plan(e.sql("SELECT k, a FROM wide"))
    val tailStructs = payloadReads(pt)
    assert(!pt.contains("Window") && tailStructs.nonEmpty, pt.take(2000))
    assert(tailStructs.forall(_.split(",").length <= 2),
      s"snapshot scan read the whole payload for a 2-column query: $tailStructs")
    e.close()
  }

  test("a small insert's FK probe prunes the parent scan with inlined keys") {
    val e = graft.exec.QueryEngine.scratch(spark)
    e.sql("CREATE TABLE dept (id BIGINT PRIMARY KEY, dname STRING)")
    e.sql("INSERT INTO dept SELECT id, CONCAT('d', id) FROM range(500)")
    e.sql("CREATE TABLE emp (id BIGINT PRIMARY KEY, dept BIGINT REFERENCES dept(id))")
    // capture the probe's plan via EXPLAIN of an insert-shaped guard:
    // run the insert and assert it was cheap by plan construction -
    // the parent scan must carry the inlined key as a pushed filter.
    // (The probe plan is internal, so assert through the physical
    // effect: a wrong inline would either fail the FK check or pass a
    // bad key.)
    e.sql("INSERT INTO emp VALUES (1, 7), (2, 42)") // valid keys: passes
    val err = intercept[IllegalArgumentException] {
      e.sql("INSERT INTO emp VALUES (3, 9999)") // missing parent: must still raise
    }
    assert(err.getMessage.contains("foreign key violation"))
    // NULL FK passes (MATCH SIMPLE) even with the inline filter active
    e.sql("INSERT INTO emp VALUES (4, NULL)")
    assert(e.sql("SELECT COUNT(*) AS n FROM emp").collect().head.getLong(0) === 3L)
    e.close()
  }
}
