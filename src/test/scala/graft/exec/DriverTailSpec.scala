package graft.exec

import graft.{GroupJobs, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The driver-resident log tail: a read above the newest snapshot whose
  * events the driver wrote itself folds them on the driver and serves a
  * flat plan. Its contract, modelled on FlatLogPropertySpec: after every
  * statement of a seeded literal script, the tail read equals the keyed
  * window collapse as a set — at the current state and at every bound
  * from the newest snapshot to the last sequence — and while the tail is
  * known the read's plan has no Window. Fallbacks (reopen, a batch past
  * the literal cap, RESTORE) must keep the same answers. Pk point reads
  * over a snapshot, which decode its row groups on the driver, must
  * equal the same keys picked out of an unfiltered keyed read, over
  * every snapshot layout and within and past the driver's byte budget.
  * Pk point reads of the keyed collapse (AS OF below or between
  * snapshots, an unknown tail) fold their candidate events on the
  * driver, and must equal a fold of the table's history written here,
  * at every sequence. */
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

  /** Pk point reads (`id = k` for each key, then `id IN (keys)`) equal
    * the same keys picked out of an unfiltered keyed read — which has
    * no pk predicate, so no driver read — at the current state and at
    * every bound from the newest snapshot to the last sequence. With
    * `local`, each current-state point read is a LocalRelation. */
  private def assertPointAgrees(e: QueryEngine, t: String, keys: Seq[Long],
      what: String, local: Boolean = true): Unit = {
    val last = e.catalog.lastSeq(t)
    val newest = graft.state.Snapshots.nearest(spark,
      e.catalog.snapshotPath(t), None).getOrElse(0L)
    for (b <- None +: (newest to last).map(Some(_))) {
      val keyed = e.stateAt(t, b, dmlRead = true).collect()
      def want(ks: Seq[Long]): Seq[String] = keyed.filter(r => ks.contains(r.getLong(0)))
        .map(_.toSeq.mkString("|")).sorted.toSeq
      for (k <- keys) {
        val df = e.stateAt(t, b).where(col("id") === k)
        assert(rows(df) === want(Seq(k)), s"id = $k at ${b.getOrElse("current")} after $what")
        if (local && b.isEmpty)
          assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
            s"id = $k after $what did not fold to the driver:\n" +
              df.queryExecution.optimizedPlan)
      }
      assert(rows(e.stateAt(t, b).where(col("id").isin(keys: _*))) === want(keys),
        s"id IN (${keys.mkString(",")}) at ${b.getOrElse("current")} after $what")
    }
  }

  /** Run `stmt` traced; the details of the driver point reads its
    * statement thread recorded. */
  private def pointReads(e: QueryEngine, stmt: String): Seq[String] = {
    e.sql("SET TRACE ON")
    e.sql(stmt).collect()
    val reads = e.tracer.traces.head.spans.filter(_.name == "point-read")
    e.sql("SET TRACE OFF")
    reads.map(_.detail).toSeq
  }

  /** Run `stmt` traced; (files, row groups kept, row groups total) of
    * the one driver point read it did. */
  private def pointRead(e: QueryEngine, stmt: String): (Int, Int, Int) = {
    val reads = pointReads(e, stmt)
    assert(reads.length == 1, reads)
    val R = """files=(\d+) row_groups=(\d+)/(\d+) .*""".r
    reads.head match {
      case R(f, k, n) => (f.toInt, k.toInt, n.toInt)
      case d => fail(d)
    }
  }

  private def windowless(e: QueryEngine, t: String): Boolean =
    !plan(e.stateAt(t, None)).contains("Window")

  /** The rows at bound `b` of a table whose history (`FOR SYSTEM_TIME
    * ALL` rows: sequence, ts, event_type, pk, then the columns) is
    * `hist`, keyed by the `id` column and rendered as `rows` renders
    * them — folded here, independently of the engine: per key in
    * sequence order, an INSERT sets the row, a SOFT_DELETE removes it,
    * and any other event replaces a row that is there and leaves an
    * absent key absent. */
  private def foldLog(hist: Seq[org.apache.spark.sql.Row], idAt: Int,
      b: Long): Map[Long, String] = {
    val st = scala.collection.mutable.Map.empty[Long, String]
    for (r <- hist.filter(_.getLong(0) <= b).sortBy(_.getLong(0))) {
      val id = r.getLong(idAt)
      val row = r.toSeq.drop(4).mkString("|")
      r.getString(2) match {
        case "INSERT" => st(id) = row
        case "SOFT_DELETE" => st -= id
        case _ => if (st.contains(id)) st(id) = row
      }
    }
    st.toMap
  }

  /** AS OF at every bound in `bounds` (default 0 to the last sequence),
    * for each key (`id = k`) and for all of them (`id IN`), equals
    * `foldLog` of `hist` (default the table's history now). With
    * `local`, every point read folds to a LocalRelation on the driver;
    * without, it keeps its Window. */
  private def assertTimeTravel(e: QueryEngine, t: String, keys: Seq[Long],
      what: String, hist: Option[Seq[org.apache.spark.sql.Row]] = None,
      bounds: Option[Seq[Long]] = None, local: Boolean = true): Unit = {
    val h = hist.getOrElse(e.sql(s"SELECT * FROM $t FOR SYSTEM_TIME ALL").collect().toSeq)
    val idAt = h.headOption.fold(0)(_.fieldIndex("id"))
    for (b <- bounds.getOrElse(0L to e.catalog.lastSeq(t))) {
      val want = foldLog(h, idAt, b)
      def check(where: String, ks: Seq[Long]): Unit = {
        val df = e.sql(s"SELECT * FROM $t FOR SYSTEM_TIME AS OF @SEQ:$b WHERE $where")
        assert(rows(df) === ks.flatMap(want.get).sorted, s"$where AS OF $b, $what")
        val opt = df.queryExecution.optimizedPlan
        if (local) assert(opt.isInstanceOf[LocalRelation],
          s"$where AS OF $b, $what, did not fold on the driver:\n$opt")
        else assert(plan(df).contains("Window"), s"$where AS OF $b, $what:\n${plan(df)}")
      }
      keys.foreach(k => check(s"id = $k", Seq(k)))
      check(s"id IN (${keys.mkString(", ")})", keys)
    }
  }

  test("property: AS OF at every sequence equals an independent fold of the log") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE h (id BIGINT PRIMARY KEY, v BIGINT, s STRING)")
    e.sql("INSERT INTO h VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    e.sql("UPDATE h SET v = 11 WHERE id = 1")
    e.sql("SNAPSHOT h")
    // after the first snapshot: keys the slice only PATCHes, a DELETE
    // then a re-INSERT of the same key, and a new key
    e.sql("UPDATE h SET v = 21 WHERE id = 2")
    e.sql("DELETE FROM h WHERE id = 3")
    e.sql("INSERT INTO h VALUES (3, 33, 'again'), (4, 40, 'd')")
    e.sql("UPDATE h SET s = 'b2' WHERE id IN (2, 4)")
    e.sql("SNAPSHOT h")
    e.sql("DELETE FROM h WHERE id = 1")
    e.sql("UPDATE h SET v = v + 1 WHERE id = 3")
    e.sql("INSERT INTO h VALUES (5, 50, 'e')")
    val keys = Seq(1L, 2L, 3L, 4L, 5L, 99L)
    assertTimeTravel(e, "h", keys, "two snapshots, tail known")
    e.close()
    // a reopened engine knows no tail: above the newest snapshot too,
    // the read is the keyed collapse of the snapshot and the log slice
    val r = new QueryEngine(spark, e.baseDir)
    assertTimeTravel(r, "h", keys, "two snapshots, reopened")
    // the matched batch of an UPDATE by pk is the same collapse: one
    // span for its reads of the snapshot and the slice (the log files
    // below the snapshot drop at their footers by the sequence bound)
    // and the events it folded
    val spans = pointReads(r, "UPDATE h SET v = v + 100 WHERE id = 3")
    val R = """files=(\d+) row_groups=(\d+)/(\d+) bytes=\d+ rows=\d+ events=(\d+)""".r
    val folded = spans.collect { case R(_, k, n, ev) => (k.toInt, n.toInt, ev.toInt) }
    assert(folded.nonEmpty && folded.forall { case (k, n, ev) => k < n && ev >= 2 }, spans)
    // ALTER ADD: older events read the new column as NULL; DROP
    r.sql("ALTER TABLE h ADD COLUMN x BIGINT")
    r.sql("UPDATE h SET x = 7 WHERE id = 2")
    r.sql("INSERT INTO h VALUES (6, 60, 'f', 6)")
    assertTimeTravel(r, "h", keys :+ 6L, "ALTER ADD")
    r.sql("ALTER TABLE h DROP COLUMN s")
    r.sql("UPDATE h SET v = 0 WHERE id = 6")
    assertTimeTravel(r, "h", keys :+ 6L, "ALTER DROP")
    // VACUUM RETAIN: below the floor the read raises; from it on, the
    // snapshot at the floor stands for the vacuumed events
    val before = r.sql("SELECT * FROM h FOR SYSTEM_TIME ALL").collect().toSeq
    val floor = r.catalog.lastSeq("h") - 3
    r.sql(s"VACUUM h RETAIN @SEQ:$floor")
    val kept = r.catalog.retentionFloor("h")
    assert(kept > 0 && kept <= floor)
    intercept[IllegalStateException](
      r.sql(s"SELECT * FROM h FOR SYSTEM_TIME AS OF @SEQ:${kept - 1} WHERE id = 2").collect())
    assertTimeTravel(r, "h", keys :+ 6L, "VACUUM RETAIN", hist = Some(before),
      bounds = Some(kept to r.catalog.lastSeq("h")))
    r.close()
  }

  test("property: AS OF over an encrypted log equals an independent fold") {
    val e = QueryEngine.scratch(spark)
    e.sql("SET ENCRYPTION KEY '" + java.util.Base64.getEncoder
      .encodeToString(Array.tabulate(32)(_.toByte)) + "'")
    try {
      e.sql("CREATE TABLE ce (id BIGINT PRIMARY KEY, v BIGINT)")
      e.sql("INSERT INTO ce VALUES (1, 1), (2, 2), (3, 3)")
      e.sql("DELETE FROM ce WHERE id = 2")
      e.sql("SNAPSHOT ce")
      e.sql("INSERT INTO ce VALUES (2, 22)")
      e.sql("UPDATE ce SET v = 9 WHERE id = 1")
      e.sql("SNAPSHOT ce")
      e.sql("UPDATE ce SET v = 10 WHERE id = 1")
      e.sql("DELETE FROM ce WHERE id = 3")
      assertTimeTravel(e, "ce", Seq(1L, 2L, 3L, 4L), "encrypted log")
    } finally e.sql("SET ENCRYPTION OFF")
    e.close()
  }

  test("property: AS OF over the driver's byte budget keeps the window and the rows") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE hb (id BIGINT PRIMARY KEY, s STRING)")
    // ~10 MB of 512-character strings in hashed key order, so every row
    // group of the log is a candidate for any key
    e.sql("INSERT INTO hb SELECT id, repeat(sha2(CAST(id AS STRING), 512), 4) " +
      "FROM range(1, 20001) ORDER BY sha2(CAST(id AS STRING), 256)")
    val loaded = e.catalog.lastSeq("hb")
    e.sql("UPDATE hb SET s = 'patched' WHERE id = 5")
    e.sql("DELETE FROM hb WHERE id = 6")
    e.sql("SNAPSHOT hb")
    e.sql("UPDATE hb SET s = 'again' WHERE id = 5")
    // (every key in the loaded range: an absent one prunes at the footers)
    val keys = Seq(5L, 6L, 77L)
    val hist = e.sql("SELECT * FROM hb FOR SYSTEM_TIME ALL WHERE id IN (5, 6, 77)")
      .collect().toSeq
    // below the snapshot the log alone is over the budget
    assertTimeTravel(e, "hb", keys, "over the budget", hist = Some(hist),
      bounds = Some(Seq(1L, loaded / 2, loaded, loaded + 1)), local = false)
    e.close()
  }

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
    // the snapshot's row groups that can hold the key decode on the
    // driver, so a point statement runs no Spark job at all
    assert(jobs(assert(e.sql("SELECT id, bal FROM a WHERE id = 9").collect()
      .map(_.getLong(1)).toSeq === Seq(90L))) === 0, "PK SELECT")
    // a key the tail only PATCHes folds over the same driver read
    assert(jobs(assert(e.sql("SELECT id, bal FROM a WHERE id = 7").collect()
      .map(_.getLong(1)).toSeq === Seq(71L))) === 0, "PK SELECT, patched key")
    assert(jobs(assert(e.sql("SELECT id FROM a WHERE id = 8").collect()
      .isEmpty)) === 0, "PK SELECT, deleted key")
    assert(jobs(assert(e.sql(s"SELECT id, bal FROM a FOR SYSTEM_TIME AS OF " +
      s"@SEQ:${snap + 2} WHERE id = 5002").collect().length === 1)) === 0,
      "AS OF above the snapshot")
    assert(jobs(assert(e.sql("INSERT INTO a VALUES (6001, 3)").collect()
      .head.getLong(1) === 1L)) === 0, "INSERT VALUES")
    assert(jobs(assert(e.sql("UPDATE a SET bal = bal + 1 WHERE id = 11")
      .collect().head.getLong(1) === 1L)) === 0, "UPDATE by pk")
    assert(e.sql("SELECT bal FROM a WHERE id = 11").collect().head.getLong(0) === 111L)

    e.sql("CREATE TABLE lit (id BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO lit VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    e.sql("UPDATE lit SET v = 'bb' WHERE id = 2")
    e.sql("DELETE FROM lit WHERE id = 3")
    assert(jobs(assert(e.sql("SELECT id, v FROM lit").collect()
      .map(r => s"${r.getLong(0)}${r.getString(1)}").sorted.toSeq ===
      Seq("1a", "2bb"))) === 0, "SELECT on a literal-built table")

    // below the snapshot the read is the keyed collapse of the log
    // alone: its candidate events fold on the driver
    val below = s"SELECT id, bal FROM a FOR SYSTEM_TIME AS OF @SEQ:${snap - 1} WHERE id = 7"
    e.sql(below).collect() // warm
    assert(jobs(assert(e.sql(below).collect().map(_.getLong(1)).toSeq ===
      Seq(70L))) === 0, "AS OF below the snapshot")
    // a second snapshot, then a reopened engine, which knows no tail:
    // between the two the read is the older snapshot plus a log slice
    e.sql("SNAPSHOT a")
    e.close()
    val r = new QueryEngine(spark, e.baseDir)
    val between = s"SELECT id, bal FROM a FOR SYSTEM_TIME AS OF @SEQ:${snap + 3} " +
      "WHERE id IN (7, 8, 5002)"
    r.sql(between).collect() // warm
    assert(jobs(assert(r.sql(between).collect().map(x => x.getLong(0) -> x.getLong(1))
      .sorted.toSeq === Seq(7L -> 71L, 8L -> 80L, 5002L -> 2L))) === 0,
      "AS OF between two snapshots, reopened")
    r.close()
  }

  test("a literal INSERT above a snapshot plans one driver read for its guards") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE pko (id BIGINT PRIMARY KEY)")
    e.sql("INSERT INTO pko SELECT id FROM range(1, 501)")
    e.sql("SNAPSHOT pko")
    e.sql("INSERT INTO pko VALUES (9000)") // warm
    // the pk collision probe is the only guard that reads the state
    assert(pointReads(e, "INSERT INTO pko VALUES (9001)").length === 1)
    assert(e.sql("SELECT COUNT(*) FROM pko").collect().head.getLong(0) === 502L)
    // a child with an FK, a UNIQUE and a CHECK: recorded, not asserted
    e.sql("CREATE TABLE dept (id BIGINT PRIMARY KEY, name STRING)")
    e.sql("INSERT INTO dept SELECT id, concat('d', CAST(id AS STRING)) FROM range(1, 11)")
    e.sql("CREATE TABLE emp (id BIGINT PRIMARY KEY, " +
      "dept_id BIGINT REFERENCES dept(id), email STRING UNIQUE, " +
      "sal BIGINT CHECK (sal >= 0))")
    e.sql("INSERT INTO emp SELECT id, id % 5 + 1, " +
      "concat('e', CAST(id AS STRING)), id * 100 FROM range(1, 41)")
    e.sql("SNAPSHOT dept")
    e.sql("SNAPSHOT emp")
    e.sql("INSERT INTO emp VALUES (100, 2, 'x100', 5)") // warm
    // the probes that do not fold run as one union job; it plans from
    // their optimized plans, so the point reads they made on the
    // statement thread are not made again on the verdict fork
    val unions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[LogicalPlan]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq("_err")) unions.add(qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val child = try {
      val spans = pointReads(e, "INSERT INTO emp VALUES (101, 3, 'x101', 6)")
      // the listener shares the listener bus queue: sync drains it
      val g = GroupJobs(spark, "probe-union")
      g.sync()
      g.close()
      spans
    } finally spark.listenerManager.unregister(listener)
    info(s"guarded child INSERT: ${child.length} point-read spans")
    assert(unions.size === 1, unions)
    // the FK probe read its parent by key on the driver: no tagged scan
    // of dept is left for the union to read again
    val parentScans = unions.get(0).collect {
      case l: LogicalRelation if (l.relation match {
        case f: HadoopFsRelation => f.options.contains(graft.state.Snapshots.PkOption) &&
          f.location.rootPaths.exists(_.toString.contains("/tables/dept/"))
        case _ => false
      }) => l
    }
    assert(parentScans.isEmpty, s"probe union re-plans a tagged scan:\n${unions.get(0)}")
    assert(e.sql("SELECT COUNT(*) FROM emp").collect().head.getLong(0) === 42L)
    e.close()
  }

  test("property: pk point reads over snapshot layouts equal keyed reads") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE p (id BIGINT PRIMARY KEY, v BIGINT, s STRING)")
    e.sql("INSERT INTO p SELECT id, id * 10, concat('s', id) FROM range(1, 3001)")
    // 4 KB row groups hold a few hundred rows each
    def smallRowGroups(stmt: String): Unit = {
      spark.conf.set("parquet.block.size", "4096")
      try e.sql(stmt) finally spark.conf.unset("parquet.block.size")
    }
    smallRowGroups("SNAPSHOT p")
    // a tail that inserts, patches, deletes, and deletes then re-inserts
    e.sql("INSERT INTO p VALUES (5001, 1, 'n')")
    val (files, kept, total) = pointRead(e, "UPDATE p SET v = -1 WHERE id = 7")
    assert(total > files && kept >= 1, s"$kept/$total row groups in $files files")
    e.sql("DELETE FROM p WHERE id = 8")
    e.sql("DELETE FROM p WHERE id = 9")
    e.sql("INSERT INTO p VALUES (9, 99, 'again')")
    // 777777 is absent everywhere
    val keys = Seq(1L, 7L, 8L, 9L, 42L, 2999L, 5001L, 777777L)
    assertPointAgrees(e, "p", keys, "multi-row-group snapshot and tail")
    // OPTIMIZE ... ZORDER writes a new version dir of the same snapshot,
    // clustered on the pk, so the footers prune row groups
    smallRowGroups("OPTIMIZE p ZORDER BY (id)")
    val (_, zKept, zTotal) = pointRead(e, "UPDATE p SET v = -2 WHERE id = 42")
    assert(zKept < zTotal, s"$zKept/$zTotal row groups kept")
    assertPointAgrees(e, "p", keys, "ZORDER version")
    // a column added after the snapshot reads NULL from its files; the
    // tail is unknown after ALTER, so the read is the keyed plan with
    // the snapshot side read on the driver
    e.sql("ALTER TABLE p ADD COLUMN x BIGINT")
    e.sql("UPDATE p SET x = 5 WHERE id = 11")
    assertPointAgrees(e, "p", keys :+ 11L, "ALTER ADD after the snapshot", local = false)
    e.sql("SNAPSHOT p")
    e.sql("UPDATE p SET x = 6 WHERE id = 12")
    assertPointAgrees(e, "p", keys ++ Seq(11L, 12L), "SNAPSHOT after ALTER")
    e.close()
  }

  test("pk point reads over an encrypted snapshot decode on the driver") {
    val e = QueryEngine.scratch(spark)
    e.sql("SET ENCRYPTION KEY '" + java.util.Base64.getEncoder
      .encodeToString(Array.tabulate(32)(_.toByte)) + "'")
    try {
      e.sql("CREATE TABLE c (id BIGINT PRIMARY KEY, v BIGINT, s STRING)")
      e.sql("INSERT INTO c SELECT id, id * 3, concat('c', id) FROM range(1, 501)")
      e.sql("SNAPSHOT c")
      e.sql("UPDATE c SET v = 0 WHERE id = 3")
      e.sql("DELETE FROM c WHERE id = 4")
      assertPointAgrees(e, "c", Seq(3L, 4L, 5L, 499L, 9999L), "encrypted snapshot")
    } finally e.sql("SET ENCRYPTION OFF")
    e.close()
  }

  test("a point read over the byte budget keeps the one-job scan and the same rows") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE big (id BIGINT PRIMARY KEY, s STRING)")
    // ~10 MB of 512-character strings, hash-ordered by the snapshot
    // write, so every row group is a candidate for any key
    e.sql("INSERT INTO big SELECT id, repeat(sha2(CAST(id AS STRING), 512), 4) " +
      "FROM range(1, 20001)")
    e.sql("SNAPSHOT big")
    e.sql("UPDATE big SET s = 'patched' WHERE id = 5")
    e.sql("SELECT id, s FROM big WHERE id = 77").collect() // warm
    val df = e.sql("SELECT id, s FROM big WHERE id = 77")
    assert(plan(df).contains("FileScan"), plan(df))
    assert(jobs(assert(df.collect().length === 1)) === 1)
    assertPointAgrees(e, "big", Seq(5L, 77L, 30000L), "over the budget", local = false)
    e.close()
  }
}
