package graft.exec

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Crash-atomicity of COMMIT and the direct DML path, exactly-once
  * streaming replay, and the base-dir write lock. Faults are injected
  * through the engine's test hooks, which throw at the exact filesystem
  * boundaries a real crash would hit; "restart" = close() + a fresh
  * engine over the same base dir (whose open sweep runs recovery).
  */
class CrashRecoverySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def seeded(): QueryEngine = {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, name STRING, val DOUBLE)")
    e.sql("INSERT INTO t VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)")
    e
  }

  private def rows(e: QueryEngine, q: String): Seq[Row] =
    e.sql(q).collect().toSeq

  test("crash before the manifest rename: nothing commits, txn survives") {
    val e = seeded()
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    e.sql("UPDATE t SET val = 0 WHERE id = 1")
    e.commit.testFailBeforeManifestRename =
      () => throw new java.io.IOException("injected: crash before commit point")
    val ex = intercept[IllegalStateException](e.sql("COMMIT"))
    assert(ex.getMessage.contains("transaction still open"))
    // the transaction is intact — a retry without the fault commits it
    assert(e.inTransaction)
    e.commit.testFailBeforeManifestRename = () => ()
    e.sql("COMMIT")
    assert(rows(e, "SELECT id, val FROM t ORDER BY id")
      === Seq(Row(1L, 0.0), Row(2L, 2.5), Row(3L, 3.5), Row(4L, 4.5)))
    // and a crash-before-commit-point with a REAL abandonment leaves
    // nothing behind after reopen
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (9, 'x', 9.9)")
    e.commit.testFailBeforeManifestRename =
      () => throw new java.io.IOException("injected: crash before commit point")
    intercept[IllegalStateException](e.sql("COMMIT"))
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    assert(rows(e2, "SELECT COUNT(*) AS n FROM t WHERE id = 9") === Seq(Row(0L)))
    // no staging junk left for the sweep to have missed
    val fs = new Path(e.baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new Path(e.baseDir))
      .exists(_.getPath.getName.startsWith(".txn-staging-")))
    e2.close()
  }

  test("crash mid-publish: reopen rolls the whole transaction forward") {
    val e = seeded() // seq 1..3
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)") // batch 1
    e.sql("UPDATE t SET name = upper(name) WHERE id <= 2") // batch 2
    // let the first staged file publish, then "crash" — a naive publish
    // would leave the INSERT visible and the UPDATE lost
    e.commit.testFailBeforePublishRename =
      i => if (i >= 1) throw new java.io.IOException("injected: crash mid-publish")
    val ex = intercept[IllegalStateException](e.sql("COMMIT"))
    assert(ex.getMessage.contains("durable"))
    assert(!e.inTransaction) // past the commit point: the txn IS committed
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir) // open sweep = recovery
    // ALL statements of the transaction are visible — all-or-nothing
    assert(rows(e2, "SELECT id, name FROM t ORDER BY id")
      === Seq(Row(1L, "A"), Row(2L, "B"), Row(3L, "c"), Row(4L, "d")))
    // sequences are contiguous (counter recovered with the data) and the
    // next write continues cleanly
    e2.sql("INSERT INTO t VALUES (5, 'e', 5.5)")
    assert(rows(e2, "SELECT sequence FROM t FOR SYSTEM_TIME ALL ORDER BY sequence")
      .map(_.getLong(0)) === (1L to 7L))
    val fs = new Path(e.baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new Path(e.baseDir))
      .exists(_.getPath.getName.startsWith(".txn-staging-")))
    e2.close()
  }

  test("a transient publish fault rolls forward in-process — no reopen needed") {
    val e = seeded()
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    e.sql("UPDATE t SET name = upper(name) WHERE id <= 2")
    // fault fires ONCE (first publish attempt), then clears — the
    // immediate in-process retry completes the publish and COMMIT
    // returns success with no exception at all
    var fired = false
    e.commit.testFailBeforePublishRename = i =>
      if (i >= 1 && !fired) { fired = true
        throw new java.io.IOException("injected: transient publish fault") }
    e.sql("COMMIT")
    assert(fired, "fault hook never fired — the scenario went untested")
    assert(rows(e, "SELECT id, name FROM t ORDER BY id")
      === Seq(Row(1L, "A"), Row(2L, "B"), Row(3L, "c"), Row(4L, "d")))

    // a fault that persists through the retry surfaces CommitIncomplete;
    // the NEXT statement heals the live engine (no close()+reopen) and
    // reads see the whole batch
    e.sql("BEGIN")
    e.sql("INSERT INTO t VALUES (5, 'e', 5.5)")
    e.sql("UPDATE t SET val = 0 WHERE id = 4")
    e.commit.testFailBeforePublishRename =
      i => if (i >= 1) throw new java.io.IOException("injected: crash mid-publish")
    val ex = intercept[IllegalStateException](e.sql("COMMIT"))
    assert(ex.getMessage.contains("durable"))
    e.commit.testFailBeforePublishRename = _ => () // the fault clears
    assert(rows(e, "SELECT id, val FROM t ORDER BY id")
      === Seq(Row(1L, 1.5), Row(2L, 2.5), Row(3L, 3.5), Row(4L, 0.0), Row(5L, 5.5)))
    // nothing stranded for the reopen sweep
    val fs = new Path(e.baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new Path(e.baseDir))
      .exists(_.getPath.getName.startsWith(".txn-staging-")))
    e.close()
  }

  test("crash mid-publish of a direct DML statement recovers on reopen") {
    val e = seeded()
    e.commit.testFailBeforePublishRename =
      i => if (i == 0) throw new java.io.IOException("injected: crash mid-publish")
    intercept[IllegalStateException](e.sql("INSERT INTO t VALUES (4, 'd', 4.5)"))
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    // the statement passed its commit point — the row lands exactly once
    assert(rows(e2, "SELECT id FROM t ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L), Row(4L)))
    assert(rows(e2, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME ALL")
      === Seq(Row(4L)))
    e2.close()
  }

  test("a replayed streaming micro-batch is skipped, even across a crash") {
    import spark.implicits._
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE ev (id BIGINT PRIMARY KEY, v STRING)")
    val ck = "ckpt-replay-test"
    def batch(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("id", "v")
    e.ingestStream("ev", batch(1, 2), Some(ck), 0L)
    e.ingestStream("ev", batch(1, 2), Some(ck), 0L) // plain replay: skipped
    e.ingestStream("ev", batch(3), Some(ck), 1L)
    assert(rows(e, "SELECT id FROM ev ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L)))
    // publish fault mid-batch: the batch id is durably recorded with
    // its files stranded in staging. Spark restarts the query
    // IN-PROCESS (no engine reopen), replays the batch — the replay
    // must first roll the stranded manifest forward, then skip, so the
    // events appear exactly once WITHOUT a close()+reopen
    e.commit.testFailBeforePublishRename =
      i => if (i == 0) throw new java.io.IOException("injected: crash mid-publish")
    intercept[IllegalStateException](e.ingestStream("ev", batch(4, 5), Some(ck), 2L))
    e.commit.testFailBeforePublishRename = _ => ()
    e.ingestStream("ev", batch(4, 5), Some(ck), 2L) // in-process replay
    assert(rows(e, "SELECT id FROM ev ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L), Row(4L), Row(5L)))
    // a cross-restart replay stays idempotent too
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir)
    e2.ingestStream("ev", batch(4, 5), Some(ck), 2L) // foreachBatch replay
    assert(rows(e2, "SELECT id FROM ev ORDER BY id")
      === Seq(Row(1L), Row(2L), Row(3L), Row(4L), Row(5L)))
    assert(rows(e2, "SELECT sequence FROM ev FOR SYSTEM_TIME ALL ORDER BY sequence")
      .map(_.getLong(0)) === (1L to 5L))
    e2.close()
  }

  test("a second live engine cannot write the same base dir until close") {
    val e1 = seeded() // holds the write lock (it wrote)
    val e2 = new QueryEngine(spark, e1.baseDir)
    // reads are free; writes fail fast instead of corrupting sequences
    assert(rows(e2, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
    val ex = intercept[IllegalStateException] {
      e2.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    }
    assert(ex.getMessage.contains("locked by live engine"))
    assert(rows(e1, "SELECT COUNT(*) AS n FROM t") === Seq(Row(3L)))
    e1.close() // handover: the successor may now write
    e2.sql("INSERT INTO t VALUES (4, 'd', 4.5)")
    assert(rows(e2, "SELECT COUNT(*) AS n FROM t") === Seq(Row(4L)))
    e2.close()
  }
}
