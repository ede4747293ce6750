package graft.streaming

import graft.TestSpark
import graft.exec.QueryEngine
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Replication data path (replication.rs:276-297, failover.rs promote):
  * backup-bootstrap a replica, tail the primary's publish log, apply
  * batches verbatim (sequences preserved), and take over as writer on
  * failover — the replica must serve the primary's EXACT temporal
  * history, not just its current state.
  */
class ReplicationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def rows(e: QueryEngine, sql: String): Seq[Row] =
    e.sql(sql).collect().toSeq

  test("bootstrap + follow: the replica serves identical current and temporal queries") {
    val primary = QueryEngine.scratch(spark)
    primary.sql("CREATE TABLE acct (k BIGINT PRIMARY KEY, bal DOUBLE)")
    primary.sql("INSERT INTO acct VALUES (1, 10.0), (2, 20.0), (3, 30.0)") // seq 1-3
    primary.sql("UPDATE acct SET bal = 11.0 WHERE k = 1") // seq 4
    // bootstrap: backup at seq 4 -> restore into the replica dir
    val bdir = java.nio.file.Files.createTempDirectory("graft-repl-bk-").toString
    primary.sql(s"BACKUP DATABASE TO '$bdir/b1'")
    val replicaDir = java.nio.file.Files.createTempDirectory("graft-replica-").toString
    val replica = new QueryEngine(spark, replicaDir)
    replica.sql(s"RESTORE DATABASE FROM '$bdir/b1'")
    assert(replica.catalog.lastSeq("acct") === 4L)
    // the primary moves on: more DML AFTER the backup point
    primary.sql("DELETE FROM acct WHERE k = 2") // seq 5
    primary.sql("INSERT INTO acct VALUES (4, 40.0)") // seq 6
    // follow applies exactly the (4, 6] suffix; a replicated batch that
    // crosses the auto-snapshot threshold checkpoints the replica
    replica.commit.autoSnapshotEvery = 2
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-ck-").toString
    val q = Replication.follow(primary, replica, "acct", ckpt)
    q.awaitTermination()
    assert(graft.state.Snapshots.available(spark,
      replica.catalog.snapshotPath("acct")).nonEmpty)
    def both(sql: String): Unit =
      assert(rows(replica, sql) === rows(primary, sql), s"diverged: $sql")
    both("SELECT k, bal FROM acct ORDER BY k")
    both("SELECT k, bal FROM acct FOR SYSTEM_TIME AS OF @SEQ:3 ORDER BY k")
    for (s <- 1 to 6)
      both(s"SELECT COUNT(*) AS n FROM acct FOR SYSTEM_TIME AS OF @SEQ:$s")
    both("SELECT sequence, event_type, k FROM acct FOR SYSTEM_TIME ALL ORDER BY sequence")
    // re-running follow with the same checkpoint replays nothing
    val q2 = Replication.follow(primary, replica, "acct", ckpt)
    q2.awaitTermination()
    assert(rows(replica, "SELECT COUNT(*) AS n FROM acct FOR SYSTEM_TIME ALL")
      === Seq(Row(6L)))
    primary.close(); replica.close()
  }

  test("failover: after the primary closes, the replica continues the sequence chain") {
    val primary = QueryEngine.scratch(spark)
    primary.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING)")
    primary.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')") // seq 1-2
    val bdir = java.nio.file.Files.createTempDirectory("graft-repl-bk2-").toString
    primary.sql(s"BACKUP DATABASE TO '$bdir/b'")
    val replica = new QueryEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-replica2-").toString)
    replica.sql(s"RESTORE DATABASE FROM '$bdir/b'")
    primary.sql("UPDATE t SET v = 'x' WHERE k = 2") // seq 3
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-ck2-").toString
    Replication.follow(primary, replica, "t", ckpt).awaitTermination()
    // promote: the old primary stops writing, the replica takes over
    primary.close()
    replica.sql("INSERT INTO t VALUES (3, 'c')") // must take seq 4, not 1
    assert(rows(replica,
      "SELECT sequence FROM t FOR SYSTEM_TIME ALL ORDER BY sequence")
      .map(_.getLong(0)) === (1L to 4L))
    assert(rows(replica, "SELECT k, v FROM t ORDER BY k")
      === Seq(Row(1L, "a"), Row(2L, "x"), Row(3L, "c")))
    replica.close()
  }

  test("SHOW CLUSTER surfaces replica lag from both sides of the link") {
    val primary = QueryEngine.scratch(spark)
    primary.sql("CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING)")
    primary.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')") // seq 1-2
    val bdir = java.nio.file.Files.createTempDirectory("graft-repl-bk3-").toString
    primary.sql(s"BACKUP DATABASE TO '$bdir/b'")
    val replica = new QueryEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-replica3-").toString)
    replica.sql(s"RESTORE DATABASE FROM '$bdir/b'")
    // an unlinked engine reports an empty cluster view (schema intact)
    assert(replica.sql("SHOW CLUSTER").columns.toSeq ===
      Seq("kind", "subject", "role", "peer", "local_seq", "peer_seq", "lag"))
    assert(replica.sql("SHOW CLUSTER").count() === 0L)
    // catch the replica up, then PAUSE (AvailableNow completes and
    // stops) and let the primary advance past it
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-ck3-").toString
    Replication.follow(primary, replica, "t", ckpt).awaitTermination()
    primary.sql("INSERT INTO t VALUES (3, 'c')") // seq 3
    primary.sql("INSERT INTO t VALUES (4, 'd')") // seq 4
    // replica side: role replica, applied 2 of the primary's 4
    val rRow = replica.sql("SHOW CLUSTER").collect()
      .find(_.getString(2) == "replica").get
    assert(rRow.getString(0) === "replication" && rRow.getString(1) === "t")
    assert(rRow.getLong(4) === 2L && rRow.getLong(5) === 4L &&
      rRow.getLong(6) === 2L)
    // primary side: the follower's lag from the high-water mark
    val pRow = primary.sql("SHOW CLUSTER").collect()
      .find(_.getString(2) == "primary").get
    assert(pRow.getString(1) === "t" && pRow.getLong(4) === 4L &&
      pRow.getLong(5) === 2L && pRow.getLong(6) === 2L)
    // resuming the follower drains the lag to zero on both sides
    Replication.follow(primary, replica, "t", ckpt).awaitTermination()
    assert(replica.sql("SHOW CLUSTER").collect()
      .find(_.getString(2) == "replica").get.getLong(6) === 0L)
    assert(primary.sql("SHOW CLUSTER").collect()
      .find(_.getString(2) == "primary").get.getLong(6) === 0L)
    primary.close(); replica.close()
  }

  test("SHOW CLUSTER carries the leadership lease row through attach") {
    val coord = java.nio.file.Files.createTempDirectory("graft-lead-sc-").toString
    val a = new graft.cluster.Leadership(spark, coord, "node-a", leaseMs = 60000)
    val lease = a.tryAcquire().get
    val e = QueryEngine.scratch(spark)
    lease.attach(e)
    val row = e.sql("SHOW CLUSTER").collect()
      .find(_.getString(0) == "leadership").get
    assert(row.getString(2) === "leader")
    assert(row.getString(1) === "node-a")
    assert(row.getLong(4) === row.getLong(5)) // lease epoch == current
    // a successor epoch deposes the row's role
    lease.release()
    val b = new graft.cluster.Leadership(spark, coord, "node-b", leaseMs = 60000)
    assert(b.tryAcquire().isDefined)
    val row2 = e.sql("SHOW CLUSTER").collect()
      .find(_.getString(0) == "leadership").get
    assert(row2.getString(2) === "deposed")
    assert(row2.getString(1) === "node-b")
    e.close()
  }
}
