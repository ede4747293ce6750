package graft.exec

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** Database backup / restore / verify — the analogue of the
  * reference's BackupManager (backup.rs:78 create_full_backup,
  * :156 create_incremental_backup, :250 restore_from_backup,
  * :292 verify_backup).
  *
  * A backup is a directory holding copies of the engine base dir's
  * files (catalog descriptor, event-log parquet, snapshots, matview
  * data) plus a `BACKUP_MANIFEST` recording every file of the backed-up
  * state with its size + CRC32 (the reference checksums segments the
  * same way) and where its bytes live: `self` (copied into this backup)
  * or `parent` (unchanged since the parent backup — incremental
  * backups copy only files the parent chain doesn't already hold).
  *
  * The event log is append-only and published files are immutable, so
  * "same relative path exists in parent" is a sound skip condition —
  * a file never changes in place. Deletions (DROP TABLE) are handled
  * by the manifest being authoritative: restore materializes exactly
  * the manifest's file set, so files that vanished between backups are
  * simply absent from the newer manifest.
  *
  * Scale: the per-file copies fan out as a Spark job once the file
  * count crosses a threshold (small backups stay driver-local —
  * cheaper than a job); checksums ride along from the same pass. The
  * commit point is still the driver's single manifest write, so the
  * distribution changes throughput, not semantics. Restore validation
  * distributes the same way.
  */
object Backup {

  private val ManifestName = "BACKUP_MANIFEST"
  private val Excluded = Set(".engine.lock")

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def dec(s: String) = URLDecoder.decode(s, UTF_8)

  /** Below this many files a driver-local loop beats a Spark job
    * (var so tests can drive the distributed path on small data). */
  private[exec] var DistributeThreshold = 64

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    if (spark == null) p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    else p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** CRC32 one file and, when `copy`, stream it into the backup dir in
    * the same pass. Runs on the driver or inside a Spark task (null
    * session → default Hadoop conf); idempotent, so task retries are
    * safe. */
  private[exec] def copyAndCrc(spark: SparkSession, baseDir: String,
      backupDir: String, rel: String, copy: Boolean): Long = {
    val src = new Path(new Path(baseDir), rel)
    val sFs = fsFor(spark, src)
    if (!copy) crc32(sFs, src)
    else {
      // fused: checksum the bytes as they stream into the backup
      val dstP = new Path(new Path(backupDir), rel)
      val dFs = fsFor(spark, dstP)
      dFs.mkdirs(dstP.getParent)
      val crc = new java.util.zip.CRC32
      val in = sFs.open(src)
      try {
        val out = dFs.create(dstP, true)
        try {
          val buf = new Array[Byte](256 * 1024)
          var n = in.read(buf)
          while (n >= 0) {
            if (n > 0) { crc.update(buf, 0, n); out.write(buf, 0, n) }
            n = in.read(buf)
          }
        } finally out.close()
      } finally in.close()
      crc.getValue
    }
  }

  /** All backup-relevant files under `base`, as (relative path, size).
    * Staging dirs (uncommitted) and the liveness lock are not state. */
  private def listState(fs: FileSystem, base: Path): Seq[(String, Long)] = {
    val baseUri = base.toUri.getPath
    def walk(dir: Path): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(Commit.StagingPrefix) || Excluded(name)) Nil
        else if (st.isDirectory) walk(st.getPath)
        else {
          val rel = st.getPath.toUri.getPath.stripPrefix(baseUri)
            .stripPrefix("/")
          Seq((rel, st.getLen))
        }
      }
    if (fs.exists(base)) walk(base) else Nil
  }

  private def crc32(fs: FileSystem, p: Path): Long = {
    val crc = new java.util.zip.CRC32
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) crc.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    crc.getValue
  }

  private def copyFile(srcFs: FileSystem, src: Path, dstFs: FileSystem,
      dst: Path): Unit = {
    dstFs.mkdirs(dst.getParent)
    val in = srcFs.open(src)
    try {
      val out = dstFs.create(dst, true)
      try {
        val buf = new Array[Byte](256 * 1024)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
      } finally out.close()
    } finally in.close()
  }

  private[exec] final case class Entry(rel: String, size: Long, crc: Long,
      stored: String) // "self" | "parent"

  /** One manifest, decoded: ancestry, file set, and the catalog
    * metadata a backup CATALOG needs — creation wall-clock and the
    * per-table sequence high-water marks at backup time (the
    * reference's backup catalog records the same identification data,
    * backup_enhanced.rs:260-300). Manifests from before the metadata
    * lines parse with created = None / tableSeqs empty. */
  private[exec] final case class Manifest(parent: Option[String],
      entries: Seq[Entry], created: Option[Long], tableSeqs: Map[String, Long])

  private def readManifest(spark: SparkSession, dir: String): Manifest = {
    val p = new Path(dir, ManifestName)
    val fs = fsFor(spark, p)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"not a backup (no $ManifestName): $dir")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    var parent: Option[String] = None
    var created: Option[Long] = None
    val tseqs = Map.newBuilder[String, Long]
    val entries = Vector.newBuilder[Entry]
    for (line <- text.split("\n") if line.nonEmpty) line.split("\t", -1) match {
      case Array("parent", d) => parent = Some(dec(d))
      case Array("created", ms) => created = Some(ms.toLong)
      case Array("tseq", t, seq) => tseqs += (dec(t) -> seq.toLong)
      case Array("file", rel, size, crc, stored) =>
        entries += Entry(dec(rel), size.toLong, crc.toLong, stored)
      case other =>
        throw new IllegalStateException(
          s"corrupt backup manifest line: ${other.mkString("\t")}")
    }
    Manifest(parent, entries.result(), created, tseqs.result())
  }

  /** Create a backup of `baseDir` into `backupDir`. With `parent`, an
    * incremental backup: files whose relative path the parent chain
    * already holds are recorded but not copied. The manifest lands
    * LAST — a crashed backup has no manifest and is never restorable,
    * so the manifest write is the backup's commit point. Returns
    * (files recorded, files copied). */
  def create(spark: SparkSession, baseDir: String, backupDir: String,
      parent: Option[String], tableSeqs: Map[String, Long] = Map.empty,
      createdMs: Long = System.currentTimeMillis()): (Long, Long) = {
    val base = new Path(baseDir)
    val srcFs = fsFor(spark, base)
    val dst = new Path(backupDir)
    val dstFs = fsFor(spark, dst)
    if (dstFs.exists(new Path(dst, ManifestName)))
      throw new IllegalArgumentException(s"backup already exists: $backupDir")
    // the parent chain's known files (any ancestor may hold the bytes)
    val inherited: Set[String] = parent match {
      case None => Set.empty
      case Some(p) => readManifest(spark, p).entries.map(_.rel).toSet
    }
    val lines = new StringBuilder
    parent.foreach(p => lines.append(s"parent\t${enc(p)}\n"))
    lines.append(s"created\t$createdMs\n")
    tableSeqs.toSeq.sortBy(_._1).foreach { case (t, q) =>
      lines.append(s"tseq\t${enc(t)}\t$q\n") }
    val files = listState(srcFs, base)
    val plan = files.map { case (rel, size) =>
      // catalog.meta (and any same-named rewrite) always re-copies:
      // inheritance is by path, and the descriptor mutates under a
      // stable name — only immutable log/snapshot files may inherit
      val immutable = rel != "catalog.meta" && !rel.endsWith(".tmp")
      (rel, size, if (immutable && inherited(rel)) "parent" else "self")
    }
    // one pass per file computes the checksum and (for "self" entries)
    // streams the copy; distributed when the backup is big enough for
    // a Spark job to pay for itself
    val work = plan.map { case (rel, _, stored) => (rel, stored == "self") }
    val crcs: Map[String, Long] =
      if (work.size < DistributeThreshold)
        work.map { case (rel, copy) =>
          rel -> copyAndCrc(spark, baseDir, backupDir, rel, copy)
        }.toMap
      else
        spark.sparkContext.parallelize(work, math.min(work.size, 64))
          .map { case (rel, copy) =>
            rel -> Backup.copyAndCrc(null, baseDir, backupDir, rel, copy)
          }.collect().toMap
    var copied = 0L
    for ((rel, size, stored) <- plan) {
      if (stored == "self") copied += 1
      lines.append(s"file\t${enc(rel)}\t$size\t${crcs(rel)}\t$stored\n")
    }
    val tmp = new Path(dst, s"$ManifestName.tmp")
    dstFs.mkdirs(dst)
    val out = dstFs.create(tmp, true)
    try out.write(lines.toString.getBytes(UTF_8)) finally out.close()
    if (!dstFs.rename(tmp, new Path(dst, ManifestName)))
      throw new java.io.IOException(s"backup manifest rename failed: $backupDir")
    (files.size.toLong, copied)
  }

  /** Locate the backup dir in `chain` (youngest first) that physically
    * stores `rel`. */
  private def locate(spark: SparkSession, chain: Seq[String], rel: String)
      : Option[Path] =
    chain.view.map(d => new Path(d, rel))
      .find(p => fsFor(spark, p).exists(p))

  /** The ancestor chain of `backupDir`, youngest first, cycle-guarded. */
  private def chainOf(spark: SparkSession, backupDir: String): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var cur: Option[String] = Some(backupDir)
    while (cur.isDefined) {
      val d = cur.get
      if (!seen.add(d))
        throw new IllegalStateException(s"backup parent cycle at: $d")
      cur = readManifest(spark, d).parent
    }
    seen.toSeq
  }

  /** Restore the backup into `targetDir`, wiping its current state
    * files first. The manifest is authoritative: exactly its file set
    * materializes, each file's bytes pulled from the youngest chain
    * member that stores it, and every restored file is checksum-
    * verified against the manifest (backup.rs:250-290 restores and
    * validates the same way). Returns the number of files restored. */
  def restore(spark: SparkSession, backupDir: String, targetDir: String): Long = {
    val chain = chainOf(spark, backupDir)
    val entries = readManifest(spark, backupDir).entries
    val target = new Path(targetDir)
    val tFs = fsFor(spark, target)
    // wipe current state (not the lock — the restoring engine holds it)
    if (tFs.exists(target))
      for (st <- tFs.listStatus(target) if !Excluded(st.getPath.getName))
        tFs.delete(st.getPath, true)
    for (e <- entries) {
      val src = locate(spark, chain, e.rel).getOrElse(
        throw new IllegalStateException(
          s"backup chain is missing a file: ${e.rel}"))
      val sFs = fsFor(spark, src)
      val ok =
        try crc32(sFs, src) == e.crc
        catch { case _: java.io.IOException => false } // unreadable = corrupt
      if (!ok)
        throw new IllegalStateException(
          s"backup file failed checksum validation: ${e.rel}")
      copyFile(sFs, src, tFs, new Path(target, e.rel))
    }
    entries.size.toLong
  }

  /** Verify a backup chain: every manifest entry must be present
    * somewhere in the chain with matching size + CRC32
    * (backup.rs:292-330). Returns (files checked, mismatches). */
  def verify(spark: SparkSession, backupDir: String): (Long, Seq[String]) = {
    val chain = chainOf(spark, backupDir)
    val entries = readManifest(spark, backupDir).entries
    val bad = Vector.newBuilder[String]
    for (e <- entries) locate(spark, chain, e.rel) match {
      case None => bad += s"missing: ${e.rel}"
      case Some(p) =>
        val fs = fsFor(spark, p)
        val len = fs.getFileStatus(p).getLen
        if (len != e.size) bad += s"size mismatch: ${e.rel} ($len != ${e.size})"
        else {
          val ok =
            try crc32(fs, p) == e.crc
            catch { case _: java.io.IOException => false } // unreadable
          if (!ok) bad += s"checksum mismatch: ${e.rel}"
        }
    }
    (entries.size.toLong, bad.result())
  }

  /** One row of the backup catalog (SHOW BACKUPS). `seq` is the max
    * recorded per-table sequence (-1 when the manifest predates seq
    * metadata); `bytes` counts the manifest's full logical file set,
    * `copied` the files physically stored in THIS backup. */
  final case class BackupInfo(path: String, parent: Option[String],
      created: Option[Long], seq: Long, tables: Int, files: Long,
      copied: Long, bytes: Long)

  private def infoOf(spark: SparkSession, dir: String): BackupInfo = {
    val m = readManifest(spark, dir)
    BackupInfo(dir, m.parent, m.created,
      if (m.tableSeqs.isEmpty) -1L else m.tableSeqs.values.max,
      m.tableSeqs.size, m.entries.size.toLong,
      m.entries.count(_.stored == "self").toLong,
      m.entries.map(_.size).sum)
  }

  /** Backup catalog over a directory: `dir` itself (if it is a
    * backup) plus every immediate subdirectory holding a manifest,
    * youngest-created first — the queryable inventory the reference's
    * backup catalog provides (backup_enhanced.rs:260-300 add/list).
    * Unreadable/corrupt manifests are skipped: an inventory listing
    * must not fail because one stray dir is not a backup. */
  def list(spark: SparkSession, dir: String): Seq[BackupInfo] = {
    val p = new Path(dir)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) return Nil
    val roots =
      (if (fs.exists(new Path(p, ManifestName))) Seq(p) else Nil) ++
        (if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
            .filter(d => fs.exists(new Path(d, ManifestName)))
        else Nil)
    // local paths print bare (file: URIs from listStatus would not
    // round-trip against the user's own SQL-supplied paths); other
    // filesystems keep their qualified form
    def show(r: Path): String = {
      val u = r.toUri
      if (u.getScheme == null || u.getScheme == "file") u.getPath
      else r.toString
    }
    roots.map(r => scala.util.Try(infoOf(spark, show(r))))
      .collect { case scala.util.Success(i) => i }
      .sortBy(i => (-i.created.getOrElse(-1L), i.path))
  }

  /** Retention pruning over a backup catalog dir (the reference's
    * apply_retention_policy, backup_enhanced.rs:736-793: age cutoff +
    * keep-count) — with one deliberate improvement: the reference
    * deletes matching backups blindly, which can orphan an
    * incremental's parent and silently break every descendant's
    * RESTORE; here any backup a KEPT backup's ancestor chain
    * references is retained (`kept_parent`) no matter what the rules
    * say, so every kept backup stays fully restorable. `keep` retains
    * the n youngest (by created, unknown-created last) and PROTECTS
    * them from the age rule — the standard retention composition, so
    * `KEEP 3 OLDER THAN 30 DAYS` over an all-old catalog leaves three
    * restore points, never zero; `olderThanMs`
    * deletes the rest created before `nowMs - olderThanMs` (backups
    * without created metadata never age out — deleting what cannot be
    * dated would be a guess). The catalog dir itself is never deleted
    * (it contains the siblings). Returns one (path, action) row per
    * catalog entry, action ∈ deleted | would_delete (dryRun) | kept |
    * kept_parent, youngest first. */
  def prune(spark: SparkSession, dir: String, keep: Option[Int],
      olderThanMs: Option[Long], dryRun: Boolean,
      nowMs: Long = System.currentTimeMillis()): Seq[(String, String)] = {
    val infos = list(spark, dir) // youngest-created first
    def norm(s: String): String = {
      val u = new Path(s).toUri
      if (u.getScheme == null || u.getScheme == "file") u.getPath else s
    }
    val rootNorm = norm(dir)
    // the catalog dir itself is never deletable (it CONTAINS the
    // siblings) — normalized compare, so a trailing slash or file:
    // spelling of `dir` cannot sneak it into the candidate set
    def isRoot(p: String): Boolean = norm(p) == rootNorm
    val overCount: Set[String] = keep match {
      case Some(n) => infos.drop(n).map(_.path).toSet
      case None => Set.empty
    }
    // the n youngest are immune to the age rule (keep composes as a
    // floor under OLDER THAN, not as an independent delete rule)
    val keptByCount: Set[String] = keep match {
      case Some(n) => infos.take(n).map(_.path).toSet
      case None => Set.empty
    }
    val cutoff = olderThanMs.map(nowMs - _)
    val tooOld: Set[String] = cutoff match {
      case Some(c) => infos.filter(_.created.exists(_ < c)).map(_.path).toSet
      case None => Set.empty
    }
    val candidates = (overCount ++ (tooOld -- keptByCount)).filterNot(isRoot)
    // pin every ancestor of every kept backup (the force-kept root
    // included) — chains are linear, so a kept backup's full chain
    // covers everything its restore reads. Parent pointers come from
    // the manifests list() already parsed; a parent OUTSIDE the
    // catalog is not deletable here, but the chain can RE-ENTER the
    // catalog through it (b2 in /cat → mid in /other → b1 in /cat),
    // so an out-of-catalog hop reads that one manifest from disk and
    // keeps walking — stopping there would unpin b1 and break b2's
    // restore. An unreadable outside manifest ends the walk: nothing
    // past a broken link is provably referenced.
    val byNorm = infos.map(i => norm(i.path) -> i).toMap
    val pinned = scala.collection.mutable.Set.empty[String]
    for (i <- infos if !candidates(i.path)) {
      var cur = i.parent
      val guard = scala.collection.mutable.Set(norm(i.path))
      while (cur.exists(p => guard.add(norm(p)))) {
        pinned += norm(cur.get)
        cur = byNorm.get(norm(cur.get)).map(_.parent).getOrElse(
          scala.util.Try(readManifest(spark, cur.get).parent)
            .getOrElse(None))
      }
    }
    infos.map { i =>
      if (!candidates(i.path)) (i.path, "kept")
      else if (pinned(norm(i.path))) (i.path, "kept_parent")
      else if (dryRun) (i.path, "would_delete")
      else {
        val p = new Path(i.path)
        fsFor(spark, p).delete(p, true)
        (i.path, "deleted")
      }
    }
  }

  /** Point-in-time restore by sequence: cut the ancestor chain of
    * `backupDir` at the YOUNGEST manifest whose recorded high-water
    * sequence is <= `seq` and restore that backup (the reference's
    * find-in-range + restore, backup_enhanced.rs). Manifests without
    * sequence metadata never qualify — restoring an unknown state
    * as "at seq N" would be a silent lie. Returns (restored backup
    * dir, files restored). */
  def restoreAsOf(spark: SparkSession, backupDir: String, targetDir: String,
      seq: Long): (String, Long) = {
    val chain = chainOf(spark, backupDir)
    val covering = chain.find { d =>
      val m = readManifest(spark, d)
      m.tableSeqs.nonEmpty && m.tableSeqs.values.max <= seq
    }.getOrElse(throw new IllegalArgumentException(
      s"no backup in the chain of $backupDir covers sequence <= $seq"))
    (covering, restore(spark, covering, targetDir))
  }
}
