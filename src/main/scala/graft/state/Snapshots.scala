package graft.state

import graft.log.EventLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized state checkpoints — the analogue of the reference's
  * zstd snapshots (snapshot.rs:19-66, engine.rs:739-845) and its
  * nearest-snapshot time-travel planning (optimizer.rs:296-307,
  * table_storage.rs:350-393).
  *
  * A snapshot at sequence S is the collapsed state at S stored as
  * synthetic INSERT events (full documents, sequence = winning event's
  * sequence). A read AS OF T >= S is this snapshot plus the events in
  * (S, T]. When the engine holds those events on the driver (the
  * literal batches it wrote since the newest snapshot), it folds them
  * there and the read is a flat scan of the snapshot with no shuffle;
  * a pk point read of that flat scan decodes the matching row groups
  * on the driver and runs no Spark job at all (see `read`).
  * Otherwise it unions the snapshot with the sequence-pruned log slice
  * and collapses — replay cost is proportional to the tail, not the
  * full history — and a pk point read of that collapse, at any
  * sequence, decodes the candidate rows of the snapshot and of the
  * slice on the driver and folds them there (the log read is tagged
  * like the snapshot scan; `StateView.foldCollapse`). At 100 TB this is the difference between scanning
  * the whole log and scanning one checkpoint + a sequence-pruned slice
  * (parquet min/max on `sequence` skips all pre-snapshot files).
  *
  * Layout: `<dir>/seq=<S>` for the initial checkpoint at S, and
  * `<dir>/seq=<S>.v<K>` for rewrites of the SAME state with a better
  * physical layout (OPTIMIZE ... ZORDER BY). Versioning keeps rewrites
  * crash-safe without in-place overwrites: the old version keeps
  * serving reads until the new one is complete (`_SUCCESS` present),
  * then the old dirs are pruned. Readers always resolve the highest
  * complete version.
  */
object Snapshots {

  /** Collapse an event log at `asOfSeq` keeping the event frame, with
    * every surviving row rewritten as a full-document INSERT. */
  def collapsedAsInserts(events: DataFrame, asOfSeq: Option[Long]): DataFrame =
    StateView.collapsedFrames(events, asOfSeq)
      .withColumn("event_type", lit(EventLog.INSERT))

  private val DirName = """seq=(\d+)(?:\.v(\d+))?""".r

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Every snapshot dir as (seq, version, dirName); version 0 is the
    * bare `seq=S` form. */
  private def listDirs(spark: SparkSession, dir: String): Seq[(Long, Int, String)] = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case n @ DirName(s, v) => (s.toLong, Option(v).map(_.toInt).getOrElse(0), n)
    }
  }

  /** Write the state at `seq` to `<dir>/seq=<seq>`. `options` carries
    * write-time parquet options (e.g. modular-encryption keys). */
  def write(events: DataFrame, dir: String, seq: Long,
      options: Map[String, String] = Map.empty): Unit =
    collapsedAsInserts(events, Some(seq))
      .write.options(options).mode("overwrite").parquet(s"$dir/seq=$seq")

  /** Write an ALREADY-collapsed event frame (each live pk exactly
    * once, INSERT-typed) as the checkpoint at `seq` — the
    * first-bulk-load shortcut where the ingested batch IS the state
    * and the collapse window would be an identity. */
  def writePrecollapsed(frames: DataFrame, dir: String, seq: Long,
      options: Map[String, String] = Map.empty): Unit =
    frames.write.options(options).mode("overwrite").parquet(s"$dir/seq=$seq")

  /** Copy an already-published parquet dir (a first-load log batch —
    * byte-identical to the checkpoint content, same parquet options)
    * into place as the checkpoint at `seq`, skipping the Spark write
    * job entirely. Bounded by `maxBytes`: a driver-side byte copy is
    * the right shape only for SMALL first loads — past the cap the
    * caller keeps the distributed write. Crash-safe via copy-to-tmp +
    * rename (the tmp name never matches the snapshot dir pattern, so
    * a torn copy is invisible, never served). Returns false when the
    * copy does not apply (missing source, too large, copy fault). */
  def copyFrom(spark: SparkSession, srcDir: String, dir: String, seq: Long,
      maxBytes: Long = 1L << 30): Boolean = {
    val (fs, _) = fsFor(spark, dir)
    val src = new Path(srcDir)
    if (!fs.exists(src)) return false
    val files = fs.listStatus(src).filter(_.getPath.getName.startsWith("part-"))
    if (files.isEmpty || files.map(_.getLen).sum > maxBytes) return false
    val tmp = new Path(s"$dir/seq=$seq.copytmp")
    val finalDir = new Path(s"$dir/seq=$seq")
    try {
      if (fs.exists(tmp)) fs.delete(tmp, true) // stale torn copy
      fs.mkdirs(tmp)
      for (f <- files)
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
          new Path(tmp, f.getPath.getName), false,
          spark.sparkContext.hadoopConfiguration)
      fs.rename(tmp, finalDir)
    } catch { case _: Exception =>
      scala.util.Try(fs.delete(tmp, true)); false
    }
  }

  /** Rewrite the checkpoint at `seq` (already-collapsed INSERT frames,
    * e.g. re-clustered by OPTIMIZE) as the next version dir, then prune
    * the superseded versions. The old version serves reads until the
    * new dir is fully written, so a crash mid-rewrite loses nothing. */
  def writeVersioned(frames: DataFrame, dir: String, seq: Long,
      options: Map[String, String] = Map.empty): Unit = {
    val existing = listDirs(frames.sparkSession, dir).filter(_._1 == seq)
    val next = existing.map(_._2).foldLeft(0)(math.max) + 1
    frames.write.options(options).mode("overwrite").parquet(s"$dir/seq=$seq.v$next")
    val (fs, _) = fsFor(frames.sparkSession, dir)
    for ((_, _, name) <- existing)
      scala.util.Try(fs.delete(new Path(s"$dir/$name"), true))
  }

  /** Sequences of available snapshots (ascending, version-deduped). */
  def available(spark: SparkSession, dir: String): Seq[Long] =
    listDirs(spark, dir).map(_._1).distinct.sorted

  /** Nearest snapshot at or before `target` (None = current → any). */
  def nearest(spark: SparkSession, dir: String, target: Option[Long]): Option[Long] = {
    val avail = available(spark, dir)
    target.fold(avail.lastOption)(t => avail.filter(_ <= t).lastOption)
  }

  /** The serving dir for `seq`: the highest version with a `_SUCCESS`
    * marker (a version still being written — or half-written by a
    * crashed rewrite — has none), else the highest version present. */
  private def servingDir(spark: SparkSession, dir: String, seq: Long): String = {
    val versions = listDirs(spark, dir).filter(_._1 == seq)
    if (versions.isEmpty) s"seq=$seq"
    else {
      val (fs, _) = fsFor(spark, dir)
      val complete = versions.filter(v =>
        fs.exists(new Path(s"$dir/${v._3}/_SUCCESS")))
      (if (complete.nonEmpty) complete else versions).maxBy(_._2)._3
    }
  }

  /** Reader option that tags a scan with its table's pk payload field:
    * set by `read` on a snapshot scan and by the engine's one read of a
    * table's event log. Parquet ignores it; `graft.exec.PointReads`
    * looks for it to serve a pk point read from the driver. */
  val PkOption = "graft.pk"

  /** Read a snapshot. With `schema` (the catalog's event schema) the
    * scan skips footer inference and absorbs ALTERs the same way the
    * log read does — absent fields are NULL. With `pk` (the pk's
    * physical payload field) the scan is tagged for point reads: a plan
    * that filters it by `pk = literal` or `pk IN (literals)` decodes the
    * few row groups that can hold those keys on the driver at optimize
    * time, within a byte budget, and runs no Spark job for them
    * (`graft.exec.PointReads`). */
  def read(spark: SparkSession, dir: String, seq: Long,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      pk: Option[String] = None): DataFrame = {
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    pk.fold(reader)(reader.option(PkOption, _))
      .parquet(s"$dir/${servingDir(spark, dir, seq)}")
  }

  /** Delete every version dir of the snapshot at `seq` (VACUUM pruning
    * snapshots below the retention floor). */
  def delete(spark: SparkSession, dir: String, seq: Long): Unit = {
    val (fs, _) = fsFor(spark, dir)
    for ((_, _, name) <- listDirs(spark, dir).filter(_._1 == seq))
      scala.util.Try(fs.delete(new Path(s"$dir/$name"), true))
  }
}
