package graft.exec

import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Property-style transaction tests: random small DML scripts driven
  * through engine.sql, checked against the two defining invariants of
  * a buffered transaction (sql_bridge.rs:453-568):
  *
  *   1. COMMIT-equivalence — BEGIN; S1..Sn; COMMIT leaves exactly the
  *      state that running S1..Sn outside a transaction leaves (same
  *      rows AND same event history/sequences).
  *   2. ROLLBACK-neutrality — BEGIN; S1..Sn; ROLLBACK leaves state,
  *      history, and the next assigned sequence untouched.
  *
  * The script space is generated from a seeded RNG (deterministic
  * runs), mixing inserts, expression updates, pk-changing updates,
  * deletes, UPDATE/DELETE by literal key lists, and savepoint pairs.
  * COMMIT-equivalence also runs from a table with a snapshot and a
  * bulk batch past the literal cap above it, where the engine holds no
  * driver tail and every state read is the keyed collapse — which a pk
  * point read may fold on the driver. Spark jobs per statement make each
  * case ~seconds, so this runs a handful of random scripts rather than
  * scalacheck's default 100 — the invariant coverage comes from the
  * statement mix, not case volume. */
class TxnPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshSeeded(): QueryEngine = {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (id BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    e
  }

  /** Keys the generator's IN lists draw from: the seeded rows and the
    * INSERT band, live or not. */
  private val smallKeys: Seq[Long] = Seq(1L, 2L, 3L, 4L) ++ (100L to 140L by 5L)

  /** `freshSeeded` with a snapshot and, above it, a bulk INSERT past
    * the literal cap, so the engine knows no driver tail: every state
    * read is the keyed collapse of the snapshot and the log slice. The
    * bulk ids are spaced wider than every pk-shift the generator can
    * apply; `bulkKeys` are some of them. */
  private def bulkSeeded(): QueryEngine = {
    val e = freshSeeded()
    e.sql("SNAPSHOT t")
    e.sql("INSERT INTO t SELECT 10000000 + 10000 * id, id FROM range(9000)")
    e
  }

  private val bulkKeys: Seq[Long] = Seq(0L, 1L, 2L, 8998L, 8999L).map(10000000L + 10000L * _)

  /** A random DML statement that is always valid against any state the
    * generator can reach (ids stay inside disjoint ranges, so inserts
    * never collide and pk-shifts move to a vacant band). IN lists pick
    * from `keys`. */
  private def randomScript(rnd: scala.util.Random, len: Int,
      keys: Seq[Long] = smallKeys): Seq[String] =
    (0 until len).map { i =>
      def someKeys = Seq.fill(1 + rnd.nextInt(3))(keys(rnd.nextInt(keys.length)))
        .distinct.mkString(", ")
      rnd.nextInt(7) match {
        case 0 => s"INSERT INTO t VALUES (${100 + 10 * i + rnd.nextInt(5)}, ${rnd.nextInt(50)})"
        case 1 => s"UPDATE t SET v = v * 2 + $i WHERE id % ${2 + rnd.nextInt(3)} = 0"
        case 2 => s"UPDATE t SET id = id + 1000 WHERE id >= ${100 + rnd.nextInt(40)}"
        case 3 => s"DELETE FROM t WHERE v % ${3 + rnd.nextInt(4)} = 0"
        case 4 =>
          // multi-row INSERT..SELECT reading the table itself: the
          // source's ROW ORDER becomes sequence order, so this catches
          // any read path whose plan (flat scan vs windowed union)
          // depends on transaction mode — each target band is disjoint
          s"INSERT INTO t SELECT id + ${5000 * (1 + rnd.nextInt(400))}, v + 1 FROM t WHERE id < 100"
        // point statements by literal keys: a matched batch of at most
        // one row may fold on the driver, a larger one keeps its order
        case 5 => s"UPDATE t SET v = v + ${i + 1} WHERE id IN ($someKeys)"
        case 6 => s"DELETE FROM t WHERE id IN ($someKeys)"
      }
    }

  private def dump(e: QueryEngine): (Seq[Row], Seq[Row]) = (
    e.sql("SELECT id, v FROM t ORDER BY id").collect().toSeq,
    e.sql("SELECT sequence, event_type, pk FROM t FOR SYSTEM_TIME ALL ORDER BY sequence")
      .collect().toSeq)

  test("property: BEGIN..COMMIT is equivalent to running the script bare") {
    for (seed <- 1 to 3) {
      val script = randomScript(new scala.util.Random(seed), 4)
      val bare = freshSeeded()
      script.foreach(bare.sql(_))
      val txn = freshSeeded()
      txn.sql("BEGIN")
      script.foreach(txn.sql(_))
      txn.sql("COMMIT")
      assert(dump(bare) === dump(txn), s"seed=$seed script=$script")
    }
  }

  test("property: BEGIN..COMMIT equals the bare script over a snapshot and an unknown tail") {
    val keys = smallKeys ++ bulkKeys
    for (seed <- 21 to 22) {
      val script = randomScript(new scala.util.Random(seed), 4, keys)
      val bare = bulkSeeded()
      script.foreach(bare.sql(_))
      val txn = bulkSeeded()
      txn.sql("BEGIN")
      script.foreach(txn.sql(_))
      txn.sql("COMMIT")
      assert(dump(bare) === dump(txn), s"seed=$seed script=$script")
      bare.close()
      txn.close()
    }
  }

  test("property: BEGIN..ROLLBACK leaves no trace") {
    for (seed <- 4 to 6) {
      val script = randomScript(new scala.util.Random(seed), 4)
      val e = freshSeeded()
      val before = dump(e)
      e.sql("BEGIN")
      script.foreach(e.sql(_))
      e.sql("ROLLBACK")
      assert(dump(e) === before, s"seed=$seed script=$script")
      // next sequence continues exactly where the pre-txn history ended
      e.sql("INSERT INTO t VALUES (999, 0)")
      val maxSeq = e.sql("SELECT MAX(sequence) AS s FROM t FOR SYSTEM_TIME ALL")
        .collect()(0).getLong(0)
      assert(maxSeq === before._2.length + 1)
    }
  }

  test("property: savepoint rollback equals not running the tail") {
    for (seed <- 7 to 8) {
      val rnd = new scala.util.Random(seed)
      val head = randomScript(rnd, 2)
      val tail = randomScript(new scala.util.Random(seed + 100), 2)
      val bare = freshSeeded()
      bare.sql("BEGIN"); head.foreach(bare.sql(_)); bare.sql("COMMIT")
      val sp = freshSeeded()
      sp.sql("BEGIN")
      head.foreach(sp.sql(_))
      sp.sql("SAVEPOINT s")
      tail.foreach(sp.sql(_))
      sp.sql("ROLLBACK TO SAVEPOINT s")
      sp.sql("COMMIT")
      assert(dump(bare) === dump(sp), s"seed=$seed head=$head tail=$tail")
    }
  }
}
