package graft.exec

import graft.{GroupJobs, TestSpark}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The driver-resident log tail: a read above the newest snapshot whose
  * events the driver wrote itself folds them on the driver and serves a
  * flat plan. Its contract, modelled on FlatLogPropertySpec: after every
  * statement of a seeded literal script, the tail read equals the keyed
  * window collapse as a set — at the current state and at every bound
  * from the newest snapshot to the last sequence — and while the tail is
  * known the read's plan has no Window. Fallbacks (reopen, a batch past
  * the literal cap, RESTORE) must keep the same answers. */
class DriverTailSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Fast read == keyed read at the current state and at every bound
    * from the newest snapshot (or `from`, when later) to the last
    * sequence. */
  private def assertAgrees(e: QueryEngine, t: String, what: String,
      from: Long = 0L): Unit = {
    val last = e.catalog.lastSeq(t)
    val newest = graft.state.Snapshots.nearest(spark,
      e.catalog.snapshotPath(t), None).getOrElse(0L)
    assert(rows(e.stateAt(t, None)) === rows(e.stateAt(t, None, dmlRead = true)),
      s"current state after $what")
    for (b <- math.max(newest, from) to last)
      assert(rows(e.stateAt(t, Some(b))) ===
        rows(e.stateAt(t, Some(b), dmlRead = true)), s"AS OF $b after $what")
  }

  private def windowless(e: QueryEngine, t: String): Boolean =
    !plan(e.stateAt(t, None)).contains("Window")

  test("property: tail reads equal keyed reads across seeded literal scripts") {
    val rnd = new Random(11)
    for (script <- 1 to 3) {
      val e = QueryEngine.scratch(spark)
      e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, v BIGINT, s STRING)")
      // the test's own model of when the driver knows the tail: from
      // CREATE or a SNAPSHOT at the last sequence, until an ALTER that
      // changes the payload schema
      var known = true
      var nextId = 1L
      var extra = 0 // columns added so far
      def live(): Seq[Long] =
        e.sql("SELECT id FROM t").collect().map(_.getLong(0)).toSeq
      // bounds already compared; an append adds new bounds only, so a
      // step re-checks the older ones after SNAPSHOT, ALTER or TRUNCATE
      var checked = 0L
      for (step <- 1 to 12) {
        val before = e.catalog.lastSeq("t")
        val what = rnd.nextInt(10) match {
          case 0 | 1 => // multi-row INSERT, sometimes re-inserting deleted keys
            val ids = (0 until 1 + rnd.nextInt(4)).map { _ =>
              if (nextId > 3 && rnd.nextBoolean()) 1L + rnd.nextLong(nextId - 1)
              else { nextId += 1; nextId - 1 }
            }.distinct.filterNot(live().toSet)
            if (ids.nonEmpty)
              e.sql(s"INSERT INTO t (id, v, s) VALUES " + ids.map(i =>
                s"($i, ${rnd.nextInt(100)}, 's$i')").mkString(", "))
            s"INSERT ${ids.mkString(",")}"
          case 2 | 3 =>
            val m = 2 + rnd.nextInt(3)
            e.sql(s"UPDATE t SET v = v + 1 WHERE id % $m = ${rnd.nextInt(m)}")
            "UPDATE"
          case 4 =>
            e.sql(s"DELETE FROM t WHERE id % 5 = ${rnd.nextInt(5)}")
            "DELETE"
          case 5 => // SNAPSHOT at the current sequence: PATCH-only keys follow
            e.sql("SNAPSHOT t")
            known = true
            "SNAPSHOT"
          case 6 => // SNAPSHOT at an older sequence
            val last = e.catalog.lastSeq("t")
            if (last > 1) e.snapshot("t", Some(1L + rnd.nextLong(last - 1)))
            "SNAPSHOT older"
          case 7 =>
            rnd.nextInt(3) match {
              case 0 =>
                extra += 1
                e.sql(s"ALTER TABLE t ADD COLUMN x$extra BIGINT")
                known = false
                "ALTER ADD"
              case 1 =>
                e.sql("ALTER TABLE t RENAME COLUMN s TO s2")
                e.sql("ALTER TABLE t RENAME COLUMN s2 TO s")
                "ALTER RENAME"
              case _ =>
                if (extra > 0) {
                  e.sql(s"ALTER TABLE t DROP COLUMN x$extra")
                  extra -= 1
                  known = false
                }
                "ALTER DROP"
            }
          case 8 =>
            e.sql("TRUNCATE TABLE t")
            "TRUNCATE"
          case _ => // UPDATE of one key (a PATCH on a snapshot row)
            val ids = live()
            if (ids.nonEmpty)
              e.sql(s"UPDATE t SET v = v * 2 WHERE id = ${ids(rnd.nextInt(ids.length))}")
            "UPDATE one"
        }
        val sweep = Seq("SNAPSHOT", "ALTER", "TRUNCATE").exists(what.startsWith)
        assertAgrees(e, "t", s"script $script step $step ($what)",
          from = if (sweep) 0L else math.min(before, checked))
        checked = e.catalog.lastSeq("t")
        if (known)
          assert(windowless(e, "t"), s"tail read windowed after $what")
      }
      e.close()
    }
  }

  test("fallbacks keep the same answers: reopen, past the cap, RESTORE") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    e.sql("SNAPSHOT t")
    e.sql("UPDATE t SET v = 11 WHERE id = 1")
    e.sql("DELETE FROM t WHERE id = 2")
    e.sql("INSERT INTO t VALUES (4, 40)")
    assert(windowless(e, "t"))
    assertAgrees(e, "t", "literal tail")
    val want = rows(e.stateAt("t", None))
    val backup = java.nio.file.Files.createTempDirectory("graft-tail-bk-")
    e.sql(s"BACKUP DATABASE TO '$backup'")
    e.close()

    // reopen: the tail is unknown until the next snapshot at lastSeq
    val r = new QueryEngine(spark, e.baseDir)
    assert(rows(r.stateAt("t", None)) === want)
    assert(!windowless(r, "t"), "a reopened engine knows no tail")
    assertAgrees(r, "t", "reopen")
    r.sql("SNAPSHOT t")
    assert(windowless(r, "t"))
    r.sql("UPDATE t SET v = 12 WHERE id = 1")
    assert(windowless(r, "t"))
    assertAgrees(r, "t", "snapshot after reopen")

    // INSERT ... SELECT past the literal cap: the batch is job-written
    r.sql("INSERT INTO t SELECT id + 100, id FROM range(9000)")
    assert(!windowless(r, "t"))
    // (the batch's 9000 bounds are one statement: check its edges)
    val capped = r.catalog.lastSeq("t")
    assertAgrees(r, "t", "INSERT past the cap", from = capped - 1)
    assert(rows(r.stateAt("t", Some(capped - 8999))) ===
      rows(r.stateAt("t", Some(capped - 8999), dmlRead = true)))
    r.sql("INSERT INTO t VALUES (5, 50)")
    assert(!windowless(r, "t"), "a broken chain stays unknown")
    assertAgrees(r, "t", "INSERT after the cap", from = capped)
    assert(r.stateAt("t", None).count() === 3 + 9000 + 1)

    // RESTORE swaps the database under the engine
    r.sql(s"RESTORE DATABASE FROM '$backup'")
    assert(rows(r.stateAt("t", None)) === want)
    assertAgrees(r, "t", "RESTORE")
    r.close()
  }

  /** Jobs `body` runs, counted by a listener on its own job group. */
  private def jobs(body: => Unit): Int = {
    val g = GroupJobs(spark, "tail-budget")
    val sc = spark.sparkContext
    sc.setJobGroup(g.group, "tail budget")
    try body finally sc.clearJobGroup()
    g.sync()
    g.close()
    g.started.size
  }

  test("job budget of point statements over a snapshot plus a literal tail") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE a (id BIGINT PRIMARY KEY, bal BIGINT)")
    e.sql("INSERT INTO a SELECT id, id * 10 FROM range(1, 2001)")
    e.sql("SNAPSHOT a")
    val snap = e.catalog.lastSeq("a")
    e.sql("INSERT INTO a VALUES (5001, 1), (5002, 2)")
    e.sql("UPDATE a SET bal = bal + 1 WHERE id = 7")
    e.sql("DELETE FROM a WHERE id = 8")
    // warm: the first statement of each shape compiles code
    for (_ <- 1 to 2) {
      e.sql("SELECT id, bal FROM a WHERE id = 9").collect()
      e.sql(s"SELECT id, bal FROM a FOR SYSTEM_TIME AS OF @SEQ:${snap + 1} " +
        "WHERE id = 9").collect()
    }
    assert(jobs(assert(e.sql("SELECT id, bal FROM a WHERE id = 9").collect()
      .map(_.getLong(1)).toSeq === Seq(90L))) === 1, "PK SELECT")
    // a key the tail only PATCHes reads through the same single scan
    assert(jobs(assert(e.sql("SELECT id, bal FROM a WHERE id = 7").collect()
      .map(_.getLong(1)).toSeq === Seq(71L))) === 1, "PK SELECT, patched key")
    assert(jobs(assert(e.sql("SELECT id FROM a WHERE id = 8").collect()
      .isEmpty)) === 1, "PK SELECT, deleted key")
    assert(jobs(assert(e.sql(s"SELECT id, bal FROM a FOR SYSTEM_TIME AS OF " +
      s"@SEQ:${snap + 2} WHERE id = 5002").collect().length === 1)) === 1,
      "AS OF above the snapshot")
    assert(jobs(assert(e.sql("INSERT INTO a VALUES (6001, 3)").collect()
      .head.getLong(1) === 1L)) === 1, "INSERT VALUES")
    assert(jobs(assert(e.sql("UPDATE a SET bal = bal + 1 WHERE id = 11")
      .collect().head.getLong(1) === 1L)) === 2, "UPDATE by pk")
    assert(e.sql("SELECT bal FROM a WHERE id = 11").collect().head.getLong(0) === 111L)

    e.sql("CREATE TABLE lit (id BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO lit VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    e.sql("UPDATE lit SET v = 'bb' WHERE id = 2")
    e.sql("DELETE FROM lit WHERE id = 3")
    assert(jobs(assert(e.sql("SELECT id, v FROM lit").collect()
      .map(r => s"${r.getLong(0)}${r.getString(1)}").sorted.toSeq ===
      Seq("1a", "2bb"))) === 0, "SELECT on a literal-built table")
    e.close()
  }
}
