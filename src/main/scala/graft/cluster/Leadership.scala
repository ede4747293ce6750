package graft.cluster

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Leader election + epoch fencing over shared storage — the
  * coordination half of the reference's HA stack (raft.rs:1-882 elects
  * a leader by term, failover.rs promotes a follower, replication.rs
  * ships the data — graft.streaming.Replication already covers that
  * data path). A Spark cluster's engines share a storage system, and
  * shared storage already linearizes one operation: exclusive file
  * create. So leadership here is a LEASE protocol on that primitive,
  * not message-passing consensus — the standard lakehouse shape:
  *
  *   - **Election**: candidates race to create `<coordDir>/epoch-N`
  *     exclusively; the single winner is leader for epoch N. An epoch
  *     may only be claimed once its predecessor's lease has expired.
  *   - **Tenure**: the leader renews `epoch-N.hb` (atomic tmp+rename)
  *     well inside `leaseMs`; candidates watch it for expiry.
  *   - **Fencing** (raft's term check): the leader installs a check
  *     into its engine's commit point — immediately before every
  *     atomic publish's manifest rename, abort if a higher epoch
  *     exists. A deposed leader (GC pause, network partition) that
  *     wakes up and tries to write aborts BEFORE anything becomes
  *     durable: the statement fails whole, staging is cleaned, and the
  *     successor's log is untouched. This is what makes failover safe
  *     without fencing tokens in every storage call.
  *
  * Works on any storage whose create-if-absent is atomic (posix,
  * HDFS; object stores need a conditional-put layer). The clock is
  * injectable so expiry/renewal interleavings are testable without
  * sleeps — the same discipline as the rate limiter's spec. */
final class Leadership(spark: SparkSession, coordDir: String,
    val nodeId: String, leaseMs: Long = 10000L,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val dir = new Path(coordDir)
  private val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  if (!fs.exists(dir)) fs.mkdirs(dir)

  // epoch -> highest heartbeat time THIS node has observed (or its own
  // first-seen clock when none was ever visible). Monotonic: a
  // transient missing/old heartbeat — the delete+rename window of a
  // renewal — must never read as expiry
  private val observed = scala.collection.mutable.HashMap.empty[Long, Long]

  private def claimPath(e: Long) = new Path(dir, s"epoch-$e")
  private def hbPath(e: Long) = new Path(dir, s"epoch-$e.hb")
  private def releasedPath(e: Long) = new Path(dir, s"epoch-$e.released")

  /** Highest claimed epoch, 0 if none. */
  def currentEpoch(): Long = {
    val R = """epoch-(\d+)""".r
    fs.listStatus(dir).map(_.getPath.getName)
      .collect { case R(n) => n.toLong }
      .foldLeft(0L)(math.max)
  }

  /** The claimed owner of an epoch (written by the winner just after
    * the exclusive create; None in the tiny window before). */
  def leaderOf(epoch: Long): Option[String] =
    if (!fs.exists(claimPath(epoch))) None
    else scala.util.Try {
      val in = fs.open(claimPath(epoch))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }.toOption.filter(_.nonEmpty)

  private def writeAtomic(p: Path, content: String): Unit = {
    val tmp = new Path(dir, s".${p.getName}.tmp-$nodeId")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // Hadoop rename refuses an existing destination — delete first;
    // the gap is safe because observers track heartbeats monotonically
    scala.util.Try(if (fs.exists(p)) fs.delete(p, false))
    if (!fs.rename(tmp, p)) { // a concurrent renewer won; not fatal
      scala.util.Try(fs.delete(tmp, false)); ()
    }
  }

  private def hbTime(e: Long): Option[Long] =
    if (!fs.exists(hbPath(e))) None
    else scala.util.Try {
      val in = fs.open(hbPath(e))
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }.toOption

  /** Has epoch `e`'s lease lapsed? A released epoch is lapsed
    * immediately; otherwise the highest heartbeat this node ever
    * observed must be a full lease old (a claim with no heartbeat yet
    * ages from when this node first saw it). */
  private def expired(e: Long): Boolean = {
    if (fs.exists(releasedPath(e))) return true
    val t = observed.synchronized {
      hbTime(e) match {
        case Some(h) =>
          val v = math.max(h, observed.getOrElse(e, Long.MinValue))
          observed(e) = v; v
        case None => observed.getOrElseUpdate(e, clock())
      }
    }
    clock() - t >= leaseMs
  }

  /** Create-if-absent, atomically. Local paths go through O_EXCL
    * (Hadoop's RawLocalFileSystem checks-then-creates, a race);
    * everything else through the filesystem's own exclusive create
    * (atomic on HDFS's namenode). */
  private def createExclusive(p: Path): Boolean = {
    val scheme = Option(p.toUri.getScheme).getOrElse(
      Option(fs.getUri.getScheme).getOrElse("file"))
    if (scheme == "file")
      scala.util.Try(java.nio.file.Files.createFile(
        java.nio.file.Paths.get(p.toUri.getPath))).isSuccess
    else scala.util.Try(fs.createNewFile(p)).getOrElse(false)
  }

  /** One election attempt: claim the next epoch if the incumbent's
    * lease has lapsed (or no epoch exists). Returns the lease if this
    * node won — exactly one contender can, the exclusive create is
    * the linearization point. */
  def tryAcquire(): Option[Lease] = {
    val cur = currentEpoch()
    if (cur > 0 && !expired(cur)) return None
    val next = cur + 1
    if (!createExclusive(claimPath(next)))
      return None // another contender linearized first
    // attribution + first heartbeat; the exclusive create already won
    val out = fs.create(claimPath(next), true)
    try out.write(nodeId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    writeAtomic(hbPath(next), clock().toString)
    Some(new Lease(next))
  }

  /** Thrown by the fence when a higher epoch exists — the holder has
    * been deposed and its in-flight write must not land. */
  final class LeadershipLostException(msg: String)
    extends IllegalStateException(msg)

  final class Lease private[Leadership] (val epoch: Long) {
    @volatile private var released = false

    /** Re-arm the lease clock; call well inside `leaseMs`. */
    def renew(): Unit =
      if (!released) writeAtomic(hbPath(epoch), clock().toString)

    def stillLeader(): Boolean = !released && currentEpoch() == epoch

    /** The raft term check, run at the engine's commit point. */
    def fence(): Unit = {
      if (released) throw new LeadershipLostException(
        s"lease for epoch $epoch was released")
      val cur = currentEpoch()
      if (cur > epoch) throw new LeadershipLostException(
        s"epoch $epoch fenced: epoch $cur has been claimed by " +
          s"${leaderOf(cur).getOrElse("another node")} — this write aborts " +
          "before its commit point")
    }

    /** Install this lease's fence into an engine: every atomic publish
      * checks it immediately before the manifest rename. Also feeds
      * SHOW CLUSTER's leadership row (lease epoch vs current epoch +
      * current leader id). */
    def attach(engine: graft.exec.QueryEngine): Unit = {
      engine.commit.setCommitFence(() => fence())
      engine.setLeaseStatus(() => {
        val cur = currentEpoch()
        (epoch, cur, leaderOf(cur))
      })
    }

    /** Step down voluntarily: a durable released marker lapses the
      * epoch immediately, so a successor need not wait out the
      * lease. */
    def release(): Unit = {
      released = true
      writeAtomic(releasedPath(epoch), nodeId)
    }
  }
}
