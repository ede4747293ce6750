package graft.exec

import graft.TestSpark
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Query result cache (cache.rs:75-300): version-keyed entries, exact
  * invalidation on DML/DDL/security changes, per-user keys, the
  * should_cache gates (transactions, nondeterminism, sequence draws),
  * and the SHOW/CLEAR surface.
  */
class CacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh(): QueryEngine = {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    e.sql("SET CACHE ON")
    e
  }

  private def stats(e: QueryEngine): (Long, Long, Long) = {
    val r = e.sql("SHOW CACHE").collect().head
    (r.getLong(1), r.getLong(2), r.getLong(3)) // entries, hits, misses
  }

  test("second identical SELECT hits; result identical") {
    val e = fresh()
    val q = "SELECT k, v FROM t ORDER BY k"
    val first = e.sql(q).collect().toSeq
    assert(stats(e) === ((1L, 0L, 1L)))
    val second = e.sql(q).collect().toSeq
    assert(stats(e) === ((1L, 1L, 1L)))
    assert(first === second && first === Seq(Row(1L, "a"), Row(2L, "b")))
  }

  test("a cache miss pins its result and counts its rows in one job") {
    val e = fresh()
    val g = graft.GroupJobs(spark, "cache-miss")
    val sc = spark.sparkContext
    sc.setJobGroup(g.group, "cache miss")
    try e.sql("SELECT k, v FROM t WHERE k > 0") finally sc.clearJobGroup()
    g.sync()
    g.close()
    // the pin job, which also counts the rows the cache caps
    assert(g.started.size <= 1, s"${g.started.size} jobs")
    assert(stats(e) === ((1L, 0L, 1L)))
    assert(e.sql("SELECT k, v FROM t WHERE k > 0").collect().toSet ===
      Set(Row(1L, "a"), Row(2L, "b")))
    assert(stats(e) === ((1L, 1L, 1L)))
  }

  test("a point-read miss over a snapshot caches its driver rows with no job") {
    val e = fresh()
    e.sql("CREATE TABLE s (k BIGINT PRIMARY KEY, v BIGINT)")
    e.sql("INSERT INTO s SELECT id, id * 2 FROM range(1, 1001)")
    e.sql("SNAPSHOT s")
    e.sql("UPDATE s SET v = -1 WHERE k = 7")
    e.sql("SELECT k, v FROM s WHERE k = 9").collect() // warm
    val q = "SELECT k, v FROM s WHERE k = 7"
    val g = graft.GroupJobs(spark, "cache-point")
    val sc = spark.sparkContext
    sc.setJobGroup(g.group, "cache point miss")
    try assert(e.sql(q).collect().toSeq === Seq(Row(7L, -1L)))
    finally sc.clearJobGroup()
    g.sync()
    g.close()
    assert(g.started.isEmpty, s"${g.started.size} jobs")
    val (entries, hits, _) = stats(e)
    assert(e.sql(q).collect().toSeq === Seq(Row(7L, -1L)))
    assert(stats(e)._1 === entries && stats(e)._2 === hits + 1)
    e.close()
  }

  test("a result over the row cap is not cached, and close() frees its pin") {
    val e = fresh()
    e.sql("CREATE TABLE big (k BIGINT PRIMARY KEY)")
    e.sql("INSERT INTO big SELECT id FROM range(100001)")
    val df = e.sql("SELECT k FROM big WHERE k >= 0")
    val pinned = df.queryExecution.logical.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(pinned.size == 1, df.queryExecution.logical)
    assert(stats(e)._1 === 0L, "an over-cap result must not be cached")
    assert(spark.sparkContext.getPersistentRDDs.contains(pinned.head))
    e.close()
    assert(!spark.sparkContext.getPersistentRDDs.contains(pinned.head),
      "close() left the over-cap result pinned")
  }

  test("DML and ALTER invalidate exactly (new key, fresh result)") {
    val e = fresh()
    val q = "SELECT COUNT(*) AS n FROM t"
    assert(e.sql(q).collect() === Array(Row(2L)))
    e.sql("INSERT INTO t VALUES (3, 'c')")
    assert(e.sql(q).collect() === Array(Row(3L))) // NOT the cached 2
    assert(stats(e)._2 === 0L) // no false hit
    // ALTER doesn't advance sequences — the schema fingerprint must
    // still change the key
    val qs = "SELECT * FROM t WHERE k = 1"
    e.sql(qs).collect()
    e.sql("ALTER TABLE t ADD COLUMN w BIGINT")
    assert(e.sql(qs).columns.toSeq === Seq("k", "v", "w"))
  }

  test("view reads invalidate on the underlying table's DML") {
    val e = fresh()
    e.sql("CREATE VIEW big AS SELECT * FROM t WHERE k >= 2")
    val q = "SELECT COUNT(*) AS n FROM big"
    assert(e.sql(q).collect() === Array(Row(1L)))
    e.sql("INSERT INTO t VALUES (5, 'e')")
    assert(e.sql(q).collect() === Array(Row(2L)))
  }

  test("per-user keys: RLS-filtered results never cross sessions") {
    val e = fresh()
    e.sql("""INSERT INTO t VALUES (10, 'alice'), (11, 'alice'), (12, 'bob')""")
    e.sql("ALTER TABLE t ENABLE ROW LEVEL SECURITY")
    e.sql("CREATE POLICY own ON t FOR SELECT USING (v = current_user)")
    val alice = e.newSession(); alice.setAuth("alice")
    val bob = e.newSession(); bob.setAuth("bob")
    val q = "SELECT COUNT(*) AS n FROM t"
    assert(alice.sql(q).collect() === Array(Row(2L)))
    assert(bob.sql(q).collect() === Array(Row(1L))) // not alice's entry
    // a new policy must flip the key even though no sequence advanced:
    // own {10,11} OR k<11 {1,2,10} = 4 rows (a stale entry would say 2)
    e.sql("CREATE POLICY extra ON t FOR SELECT USING (k < 11)")
    assert(alice.sql(q).collect() === Array(Row(4L)))
  }

  test("per-role keys: same user name with different roles never share an entry") {
    val e = fresh()
    e.sql("ALTER TABLE t ENABLE ROW LEVEL SECURITY")
    e.sql("CREATE POLICY audit_all ON t FOR SELECT TO auditor USING (true)")
    e.sql("CREATE POLICY low ON t FOR SELECT USING (k < 2)")
    val plain = e.newSession(); plain.setAuth("carol")
    val auditor = e.newSession(); auditor.setAuth("carol", roles = Set("auditor"))
    val q = "SELECT COUNT(*) AS n FROM t"
    assert(plain.sql(q).collect() === Array(Row(1L))) // only k=1
    // same user string, different role set — a user-only key would
    // serve carol-the-auditor carol-the-plain's filtered count
    assert(auditor.sql(q).collect() === Array(Row(2L)))
    // superuser flag is part of the key too (bypasses RLS entirely)
    val su = e.newSession(); su.setAuth("carol", superuser = true)
    assert(su.sql(q).collect() === Array(Row(2L)))
  }

  test("transactions, nondeterministic functions, and nextval never cache") {
    val e = fresh()
    e.sql("CREATE SEQUENCE s START 1")
    e.sql("SELECT rand() AS r, k FROM t")
    e.sql("SELECT nextval('s') AS x")
    e.sql("BEGIN")
    e.sql("SELECT k FROM t")
    e.sql("COMMIT")
    assert(stats(e)._1 === 0L) // nothing entered the cache
    // sequence draws advanced: a second nextval SELECT returns 2
    assert(e.sql("SELECT nextval('s') AS x").collect() === Array(Row(2L)))
  }

  test("SHOW CACHE / CLEAR CACHE / SET CACHE OFF") {
    val e = fresh()
    e.sql("SELECT k FROM t").collect()
    e.sql("SELECT v FROM t").collect()
    assert(stats(e) === ((2L, 0L, 2L)))
    e.sql("CLEAR CACHE")
    assert(stats(e)._1 === 0L)
    e.sql("SET CACHE OFF")
    e.sql("SELECT k FROM t").collect()
    val r = e.sql("SHOW CACHE").collect().head
    assert(r.getBoolean(0) === false && r.getLong(1) === 0L)
  }
}
