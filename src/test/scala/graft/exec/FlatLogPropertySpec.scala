package graft.exec

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The flat-log certificate's safety contract: a flat-scan read must
  * equal the keyed window collapse ROW-FOR-ROW (as a set) after every
  * statement of a random DML script, at the current state and at
  * every historical AS OF bound; the certificate must be held exactly
  * while the log is provably unique-pk-insert-only; and its
  * revocation must survive a crash between the publish commit point
  * and the catalog apply (it rides the same manifest as the events
  * that caused it). */
class FlatLogPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def bothReads(e: QueryEngine, t: String, asOf: Option[Long]) = {
    val flat = e.stateAt(t, asOf).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    val keyed = e.stateAt(t, asOf, dmlRead = true).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    (flat, keyed)
  }

  test("property: flat reads equal keyed reads across random DML scripts") {
    val rnd = new Random(7)
    for (script <- 1 to 5) {
      val e = QueryEngine.scratch(spark)
      e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, v BIGINT)")
      assert(e.catalog.isFlatLog("t"), "CREATE grants the certificate")
      var nextId = 1L
      var mutated = false
      for (_ <- 1 to 8) {
        rnd.nextInt(4) match {
          case 0 | 1 => // certified insert batch
            val vals = (0 until (1 + rnd.nextInt(4)))
              .map { _ => val id = nextId; nextId += 1; s"($id, ${rnd.nextInt(100)})" }
            e.sql(s"INSERT INTO t VALUES ${vals.mkString(", ")}")
          case 2 =>
            val n = e.sql(s"UPDATE t SET v = v + 1 WHERE id % 3 = ${rnd.nextInt(3)}")
              .collect()(0).getLong(1)
            // a zero-row mutation appends nothing — the log is
            // unchanged and the certificate rightly survives
            if (n > 0) mutated = true
          case 3 =>
            val n = e.sql(s"DELETE FROM t WHERE id % 7 = ${rnd.nextInt(7)}")
              .collect()(0).getLong(1)
            if (n > 0) mutated = true
        }
        assert(e.catalog.isFlatLog("t") === !mutated,
          s"certificate state after script step (mutated=$mutated)")
        val (flat, keyed) = bothReads(e, "t", None)
        assert(flat.toSeq === keyed.toSeq, s"current-state divergence")
        // a random historical bound must agree too
        val seq = e.catalog.lastSeq("t")
        if (seq > 1) {
          val at = 1L + rnd.nextLong(seq)
          val (f2, k2) = bothReads(e, "t", Some(at))
          assert(f2.toSeq === k2.toSeq, s"AS OF $at divergence")
        }
      }
      e.close()
    }
  }

  test("snapshot + flat tail union equals the keyed read") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    e.sql("SNAPSHOT t")
    e.sql("INSERT INTO t VALUES (3, 30), (4, 40)") // tail past the snapshot
    assert(e.catalog.isFlatLog("t"))
    val (flat, keyed) = bothReads(e, "t", None)
    assert(flat.toSeq === keyed.toSeq)
    assert(flat.length === 4)
    // the flat plan really is windowless
    val plan = e.stateAt("t", None).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    e.close()
  }

  test("revocation rides the manifest: crash mid-publish cannot strand a flat flag") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    assert(e.catalog.isFlatLog("t"))
    // crash AFTER the commit point (manifest renamed), BEFORE the
    // publish applies: the events are durable, so the revocation must
    // be too — recovery replays the manifest including its mut line
    e.commit.testFailBeforePublishRename =
      i => throw new java.io.IOException(s"injected: crash at publish step $i")
    intercept[Exception](e.sql("UPDATE t SET v = 0 WHERE id = 1"))
    e.close()
    val e2 = new QueryEngine(spark, e.baseDir) // open sweep = recovery
    assert(!e2.catalog.isFlatLog("t"),
      "a durable PATCH with a still-flat certificate corrupts every read")
    assert(e2.sql("SELECT v FROM t WHERE id = 1").collect()(0).getLong(0) === 0L)
    e2.close()
  }
}
