package graft.sources

import graft.TestSpark
import graft.exec.QueryEngine
import org.apache.spark.sql.{Row, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

/** The `graft` data source: a plain Spark session mounting a graft
  * base dir with `spark.read.format("graft")`, time travel via
  * options, governed reads (RLS/user), and governed writes (append /
  * truncate-overwrite through the COPY path). */
class GraftSourceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshDb(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-src-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, owner STRING, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1, 'alice', 10), (2, 'bob', 20)")
    e.sql("UPDATE t SET v = 11 WHERE id = 1")
    e.close()
    dir
  }

  private def read(dir: String, opts: (String, String)*) =
    opts.foldLeft(
      spark.read.format("graft").option("dir", dir).option("table", "t")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  test("read current state by format name, with schema from the catalog") {
    val dir = freshDb()
    val got = read(dir).orderBy("id").collect()
    assert(got === Array(Row(1L, "alice", 11L), Row(2L, "bob", 20L)))
    assert(read(dir).schema.fieldNames.toSeq === Seq("id", "owner", "v"))
  }

  test("asOfSeq time travel reads the pre-update state") {
    val dir = freshDb()
    // sequences: 1,2 = inserts; 3 = update patch
    val got = read(dir, "asOfSeq" -> "2").orderBy("id").collect()
    assert(got === Array(Row(1L, "alice", 10L), Row(2L, "bob", 20L)))
    // asOfSeq and asOfTs together is an error
    val e = intercept[IllegalArgumentException](
      read(dir, "asOfSeq" -> "2", "asOfTs" -> "2026-01-01").collect())
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("column pruning and filters reach the relation scan") {
    val dir = freshDb()
    val got = read(dir).where("v > 15").select("owner").collect()
    assert(got === Array(Row("bob")))
  }

  test("user option applies RLS policies: the connector is not a side door") {
    val dir = freshDb()
    val e = new QueryEngine(spark, dir)
    e.sql("ALTER TABLE t ENABLE ROW LEVEL SECURITY")
    e.sql("CREATE POLICY own ON t USING (owner = CURRENT_USER)")
    e.close()
    assert(read(dir, "user" -> "alice").collect() === Array(Row(1L, "alice", 11L)))
    assert(read(dir).count() === 2) // engine default: superuser bypass
  }

  test("write append lands through the governed path; overwrite truncates first") {
    val dir = freshDb()
    import spark.implicits._
    Seq((3L, "carol", 30L)).toDF("id", "owner", "v")
      .write.format("graft").option("dir", dir).option("table", "t")
      .mode(SaveMode.Append).save()
    assert(read(dir).count() === 3)
    // bulk append is COPY-semantics: an INSERT without the pk
    // uniqueness probes (the documented bulk-ingest contract of
    // QueryEngine.ingestFrame) — a duplicate pk event collapses
    // last-write-wins instead of raising
    Seq((3L, "carol2", 31L)).toDF("id", "owner", "v")
      .write.format("graft").option("dir", dir).option("table", "t")
      .mode(SaveMode.Append).save()
    assert(read(dir).where("id = 3").collect() === Array(Row(3L, "carol2", 31L)))
    assert(read(dir).count() === 3)
    Seq((9L, "zoe", 90L)).toDF("id", "owner", "v")
      .write.format("graft").option("dir", dir).option("table", "t")
      .mode(SaveMode.Overwrite).save()
    assert(read(dir).collect() === Array(Row(9L, "zoe", 90L)))
    // event sourcing survives the overwrite: the old state is still there
    val before = read(dir, "asOfSeq" -> "3").orderBy("id").collect()
    assert(before === Array(Row(1L, "alice", 11L), Row(2L, "bob", 20L)))
  }

  test("a failed overwrite rolls the truncate back, never leaving the table empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src-").toString
    val e = new QueryEngine(spark, dir)
    e.sql("""CREATE TABLE t (id BIGINT PRIMARY KEY, owner STRING,
            |v BIGINT CHECK (v > 0))""".stripMargin)
    e.sql("INSERT INTO t VALUES (1, 'alice', 11), (2, 'bob', 20)")
    e.close()
    import spark.implicits._
    val err = intercept[Exception](
      Seq((8L, "neg", -5L)).toDF("id", "owner", "v")
        .write.format("graft").option("dir", dir).option("table", "t")
        .mode(SaveMode.Overwrite).save())
    assert(err.getMessage.toLowerCase.contains("check") ||
      err.getMessage.toLowerCase.contains("constraint"),
      s"unexpected: ${err.getMessage}")
    // truncate + failed append rolled back together: original rows intact
    assert(read(dir).orderBy("id").collect()
      === Array(Row(1L, "alice", 11L), Row(2L, "bob", 20L)))
  }

  test("a data-source append respects the base-dir lock of a live engine") {
    val dir = freshDb()
    val e1 = new QueryEngine(spark, dir)
    e1.sql("INSERT INTO t VALUES (5, 'eve', 50)") // e1 wrote: it holds the lock
    def count(): Long = e1.sql("SELECT COUNT(*) FROM t").collect().head.getLong(0)
    val (rows0, seq0) = (count(), e1.catalog.lastSeq("t"))
    import spark.implicits._
    def append(): Unit = Seq((6L, "frank", 60L)).toDF("id", "owner", "v")
      .write.format("graft").option("dir", dir).option("table", "t")
      .mode(SaveMode.Append).save()
    val err = intercept[IllegalStateException](append())
    assert(err.getMessage.contains("locked by live engine"), err.getMessage)
    assert(count() === rows0)
    assert(e1.catalog.lastSeq("t") === seq0)
    e1.close()
    append()
    assert(read(dir).where("id = 6").collect() === Array(Row(6L, "frank", 60L)))
    assert(read(dir).count() === rows0 + 1)
  }
}
