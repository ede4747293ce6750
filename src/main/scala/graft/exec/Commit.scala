package graft.exec

import graft.catalog.{TableCatalog, TableDef}
import graft.log.EventLog
import graft.state.{DriverTails, Snapshots}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The commit path of the engine, in one place: the write lock, the
  * transaction buffer, sequencing, staging, the manifest, the publish
  * and the driver tail. The reference makes every write an immutable
  * event behind one process write lock (index.rs:22-26) and a WAL
  * (wal.rs); here the lock is a monitor plus the base-dir lock file
  * (BaseDirLock), and the WAL is the staged write-ahead manifest
  * (publishAtomic).
  *
  * Every writer ends in one [[publish]]: COMMIT, a statement outside a
  * transaction ([[write]]), a stream batch ([[publishStream]]) and a
  * replicated batch ([[applyReplicated]]). It stages, commits the
  * manifest, publishes, extends the driver tails and applies the
  * auto-snapshot policy.
  *
  * The engine builds one with itself. Statements reach it under
  * `QueryEngine.asSession`, which takes this monitor ([[locked]]);
  * every write that is not a SQL statement enters through
  * [[writeBatch]]. */
final class Commit private[exec] (engine: QueryEngine) {
  import Commit._
  import engine.{baseDir, catalog, spark, tracer}

  // ========================================================= write lock

  /** Serializes every state-changing entry point — SQL statements
    * (sqlAs) and every other write (writeBatch: stream, replicated and
    * data-source batches), both entered through asSession — the same
    * single-writer discipline the reference enforces with its process
    * write lock (index.rs:22-26). Without it a micro-batch and a
    * statement could read the same lastSeq and assign duplicate
    * sequences. */
  private val writeLock = new Object

  /** Run `body` under the write-lock monitor: the one lock entry.
    * Reentrant, like the monitor. Callers outside a statement (the HTTP
    * sidecar's health, alert and suggestion reads) take it too, so they
    * never iterate engine state mid-statement. */
  def locked[T](body: => T): T = writeLock.synchronized(body)

  /** True once this engine holds the base-dir write lock. */
  private[exec] var writeLockHeld = false

  /** True between close() and the next lock re-acquisition — the
    * window where the owner has declared the engine done and a
    * readiness probe must stop routing traffic to it. */
  @volatile private[exec] var closed = false

  /** Take the base-dir write lock before the first state-changing
    * operation — a second live engine writing the same base dir would
    * duplicate sequences (the reference's process write lock,
    * index.rs:22-26, guards the same hazard). Read-only engines never
    * lock, so concurrent readers stay free. */
  def ensureWriteLock(): Unit =
    if (!writeLockHeld) {
      BaseDirLock.acquire(spark, baseDir, engine.engineId)
      writeLockHeld = true
      closed = false // a write through a closed engine re-opens it
      // construction skipped recovery if a live writer held the dir at
      // the time; we may have just stolen that writer's now-stale lock,
      // so its committed-but-unpublished manifests (and counters) must
      // land before we assign any sequence
      sweepStaging()
    }

  /** Release the base-dir write lock (QueryEngine.close); the engine
    * reads as closed until a write re-acquires it. */
  private[exec] def releaseWriteLock(): Unit = {
    if (writeLockHeld) {
      BaseDirLock.release(spark, baseDir, engine.engineId)
      writeLockHeld = false
    }
    closed = true
  }

  /** Recovery sweep over COMMIT staging dirs. A staging dir WITH a
    * `manifest` file passed its commit point — the crash hit
    * mid-publish, so roll it forward (catalog counters + file renames,
    * both idempotent). A dir WITHOUT one never committed and never will
    * — discard it, or repeated failures would accumulate parquet copies
    * forever. Skipped entirely while another LIVE engine holds the
    * write lock: its in-flight staging must not be touched. (While WE
    * hold the lock it is always safe: publishAtomic only runs under the
    * statement write lock, so no staging of our own is in flight.) */
  private def sweepStaging(): Unit = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(base) && !BaseDirLock.heldByLiveOther(spark, baseDir, engine.engineId))
      for (st <- fs.listStatus(base)
          if st.getPath.getName.startsWith(StagingPrefix)) {
        if (fs.exists(new Path(st.getPath, "manifest")))
          completePublish(st.getPath)
        else scala.util.Try(fs.delete(st.getPath, true))
      }
  }

  /** Set when a commit passed its manifest commit point but the publish
    * faulted twice — the next statement retries the (idempotent) sweep
    * so in-process reads heal without a reopen. */
  @volatile private var publishIncomplete = false

  /** Heal a stranded post-commit-point publish before a statement or a
    * batch reads or writes anything: the sweep is idempotent, the
    * caller holds the write lock, and once it succeeds in-process reads
    * see the whole batch — no reopen required. */
  def healPublish(): Unit =
    if (publishIncomplete) {
      sweepStaging()
      publishIncomplete = false
    }

  /** The envelope of every write that is not a SQL statement — stream
    * micro-batches (graft.streaming), replicated batches and the `graft`
    * data-source append — run as `session` (asSession), in order:
    *   1. heal a stranded publish (healPublish, as a statement does);
    *   2. take the base-dir lock (ensureWriteLock);
    *   3. skip a replayed batch: `replay` is (stream id, batch id), the
    *      stream id being the stream's checkpoint location. The id
    *      commits in the SAME manifest as the batch's events, so a
    *      restart that replays a committed batch (Spark only guarantees
    *      at-least-once delivery to foreachBatch) is detected here and
    *      skipped — the Delta-commit idempotent-sink pattern. A batch
    *      whose publish faulted after its commit point is healed in
    *      step 1 first, so the skip never hides its events. Without a
    *      replay id nothing is skipped;
    *   4. run `body` as a traced statement named `label`;
    *   5. run the AUTOREFRESH due check (the continuous
    *      always-fresh-dashboard shape); a skipped batch advanced
    *      nothing, so it skips this too.
    * None means the batch was skipped. Batch writes skip the statement
    * rate limit, audit and statement metrics. */
  private[graft] def writeBatch[T](label: String,
      replay: Option[(String, Long)],
      session: QueryEngine#Session = engine.defaultSession)(body: => T): Option[T] =
    engine.asSession(session) {
      healPublish()
      ensureWriteLock()
      if (replay.exists { case (id, b) => catalog.lastStreamBatch(id).exists(_ >= b) })
        None
      else {
        val out = tracer.statement(label + replay.fold("")(r => s" batch=${r._2}"))(body)
        engine.matViews.maybeAutoRefresh()
        Some(out)
      }
    }

  // ======================================================= transactions

  private[exec] var txnCommits = 0L
  private[exec] var txnRollbacks = 0L

  private[exec] def begin(): DataFrame = {
    // idempotent, like the reference (sql_bridge.rs:454-460)
    if (engine.txn.isEmpty) engine.txn = Some(new Txn(catalog))
    engine.summary("begin", 0L, 0L)
  }

  private[exec] def commitTxn(): DataFrame = engine.txn match {
    case None => engine.summary("commit", 0L, 0L) // PG: COMMIT outside txn is a no-op
    case Some(tx) if tx.aborted =>
      engine.txn = None
      txnRollbacks += 1
      engine.summary("rollback", 0L, 0L) // PG: COMMIT of aborted = ROLLBACK
    case Some(tx) if tx.pending.isEmpty =>
      // a read-only transaction publishes nothing — in particular it
      // must NOT take the base-dir write lock (isMutating agrees)
      engine.txn = None
      txnCommits += 1
      engine.summary("commit", 0L, 0L)
    case Some(tx) =>
      ensureWriteLock()
      // first-committer-wins write-write conflict detection (snapshot
      // isolation, mvcc.rs): an event any other writer landed after
      // this transaction's per-table snapshot, on a pk this
      // transaction also writes, aborts the COMMIT (PG 40001). The
      // probe is one set-based semi join per written table, and is
      // skipped entirely when the table's log never advanced past the
      // snapshot — the zero-interleave case costs a counter lookup.
      for ((tbl, evs) <- tx.pending.groupBy(_._1); t <- catalog.get(tbl)) {
        val snap = tx.snapSeqs.getOrElse(tbl,
          tx.baseSeqs.getOrElse(tbl, catalog.lastSeq(tbl)))
        if (catalog.lastSeq(tbl) > snap) {
          val mine = evs.map(_._2.select(col("pk")))
            .reduce(_ unionByName _).distinct()
          val theirs = engine.baseEvents(t).where(col("sequence") > snap)
            .select(col("pk"))
          if (theirs.join(mine, Seq("pk"), "left_semi").limit(1).count() > 0) {
            engine.txn = None // the transaction is aborted, not retryable as-is
            throw new QueryEngine.SerializationFailureException(
              s"could not serialize access: concurrent update on $tbl " +
                s"committed after this transaction's snapshot ($snap)")
          }
        }
      }
      val batches = tx.pending.toSeq.map { case (table, ev, _) =>
        (table, shift(ev, tx.offset(table)))
      }
      val finalSeqs = tx.pending.groupBy(_._1).map { case (table, bs) =>
        table -> (bs.map(_._3).max + tx.offset(table))
      }
      // all-or-nothing: every batch stages first (invisible to readers;
      // a failure there aborts with the log untouched and the
      // transaction intact for ROLLBACK), then ONE manifest rename is
      // the commit point — a crash on either side of it leaves either
      // nothing or (after the reopen sweep) everything visible. The
      // transaction clears as soon as it is published, before the
      // auto-snapshot: a snapshot fault must not leave published
      // events in the buffer for a second COMMIT to publish again
      try publish(batches, finalSeqs, mutated = tx.mutated.toSet,
        committed = () => { engine.txn = None; txnCommits += 1 })
      catch {
        case e: CommitIncompleteException =>
          // past the commit point: durable, completes at next engine
          // open — clear the txn (it IS committed) and surface the
          // incomplete in-process visibility instead of masking it
          engine.txn = None
          throw e
        case e: Throwable if engine.txn.contains(tx) =>
          throw new IllegalStateException(
            s"COMMIT aborted while staging (log untouched, transaction still open): ${e.getMessage}", e)
      }
      engine.summary("commit", tx.pending.length.toLong, 0L)
  }

  private[exec] def rollbackTxn(toSavepoint: Option[String]): DataFrame = {
    val tx = engine.txn.getOrElse(throw new IllegalStateException(
      "no active transaction to rollback"))
    toSavepoint match {
      case None =>
        engine.txn = None
        txnRollbacks += 1
        engine.summary("rollback", 0L, 0L)
      case Some(name) =>
        val i = tx.savepoints.lastIndexWhere(_._1 == name.toLowerCase)
        if (i < 0) throw new IllegalArgumentException(s"savepoint not found: $name")
        val (_, len, seqSnap) = tx.savepoints(i)
        tx.restore(len, seqSnap)
        // keep the savepoint itself (PG: you can roll back to it again)
        tx.savepoints.dropRightInPlace(tx.savepoints.length - (i + 1))
        tx.aborted = false // PG: ROLLBACK TO clears the abort state
        engine.summary("rollback_to_savepoint", 0L, 0L)
    }
  }

  private[exec] def savepoint(name: String): DataFrame = {
    val tx = engine.txn.getOrElse(throw new IllegalStateException(
      "SAVEPOINT can only be used in transaction blocks"))
    // unquoted identifiers fold case, as in PG
    tx.savepoints += ((name.toLowerCase, tx.pending.length, tx.seqs.toMap))
    engine.summary("savepoint", 0L, 0L)
  }

  private[exec] def releaseSavepoint(name: String): DataFrame = {
    val tx = engine.txn.getOrElse(throw new IllegalStateException(
      "RELEASE SAVEPOINT can only be used in transaction blocks"))
    val i = tx.savepoints.lastIndexWhere(_._1 == name.toLowerCase)
    if (i < 0) throw new IllegalArgumentException(s"savepoint not found: $name")
    // PG: releases this savepoint and all later ones; writes are kept
    tx.savepoints.dropRightInPlace(tx.savepoints.length - i)
    engine.summary("release", 0L, 0L)
  }

  // ========================================================= sequencing

  /** Payload rows (logical columns) as `t`'s physical payload columns,
    * cast to their declared types (loose-schema writes are a [REF-GAP]
    * we do NOT replicate: our tables are typed). An attached event log
    * is read-only. */
  private[exec] def physicalPayload(t: TableDef, rowsLogical: DataFrame): DataFrame = {
    if (t.attached.isDefined)
      throw new UnsupportedOperationException(
        s"table ${t.name} is an attached read-only event log")
    rowsLogical.select(t.columns.map(c =>
      col(c.logical).cast(c.dataType).as(c.physical)): _*)
  }

  /** Sequence-assign and event-shape one batch of physical payload rows
    * (`physicalPayload`) as `eventType` events numbered from `base` + 1
    * — the one event-frame builder, under `write` and `publishStream`.
    * Returns (events, new last sequence).
    *
    * The batch must be a pin, a literal batch or a narrow derivation of
    * one: sequence offsets are computed once, so the consuming write
    * must see the same row-to-partition layout, and nothing may
    * re-read the log being appended to. `layout` (a distributed pin's
    * per-partition counts) makes the assignment job-free; a `literal`
    * batch (its plan optimizes to a LocalRelation, as the caller found)
    * is sequenced on the driver; anything else pays one
    * partition-counts job (EventLog.assignSequences). */
  private def eventFrame(t: TableDef, physical: DataFrame, literal: Boolean,
      base: Long, eventType: String = EventLog.INSERT,
      layout: Option[Array[Long]] = None): (DataFrame, Long) = {
    val (withSeq, n) = EventLog.assignSequences(physical, base, layout, literal)
    val ev0 = withSeq.select(
      col("sequence"),
      timestamp_seconds(lit(EventLog.ClockEpoch) + col("sequence")).as("ts"),
      lit(eventType).as("event_type"),
      col(t.pkPhysical).cast("string").as("pk"),
      struct(t.columns.map(c => col(c.physical)): _*).as("payload"))
    // a small batch lands as ONE staged file: the write job runs one
    // task instead of one per pinned partition, the publish renames
    // one file, and the log stays compact — a tombstone batch spread
    // over 32 near-empty part-files would fan out every later state
    // read's scan. Large batches keep the parallel multi-file write.
    // coalesce AFTER sequence assignment is layout-safe: the
    // per-partition offsets were computed against the pinned layout,
    // and a CoalescedRDD computes its parents with their original
    // split indices.
    val ev = if (n <= EventLog.SmallBatchRows) ev0.coalesce(1) else ev0
    (ev, base + n)
  }

  /** Land one statement's batch of physical payload rows as
    * `eventType` events of `t` — the commit half of INSERT, COPY,
    * UPDATE and DELETE (QueryEngine.append). Sequences continue from
    * the table's last sequence, or inside a transaction from its
    * buffered tail. Inside a transaction the event frame buffers until
    * COMMIT; otherwise it lands in one publish, with the guard
    * `verdict` joined at the commit point. `keepsFlat` says the batch
    * keeps the table's flat-log certificate: an INSERT whose pk
    * uniqueness the guard probes established. Only such a batch may
    * seed a first-load snapshot. Returns (events appended, last
    * assigned sequence). */
  private[exec] def write(t: TableDef, physical: DataFrame, literal: Boolean,
      eventType: String, layout: Option[Array[Long]], keepsFlat: Boolean,
      verdict: Guards.Verdict): (Long, Long) = {
    val base = engine.txn.flatMap(_.seqs.get(t.name)).getOrElse(catalog.lastSeq(t.name))
    val (ev, last) = eventFrame(t, physical, literal, base, eventType, layout)
    if (last > base) engine.txn match {
      case Some(tx) => tx.buffer(t.name, ev, last, keepsFlat)
      case None =>
        publish(Seq((t.name, ev)), Map(t.name -> last),
          mutated = if (keepsFlat) Set.empty else Set(t.name),
          validate = verdict,
          // the first-load checkpoint shortcut requires the batch to
          // BE the collapsed state: empty table before this append,
          // INSERT events only, and pk uniqueness probes ACTUALLY RAN
          // on this batch (COPY skips them, and its duplicates must go
          // through the real collapse)
          firstLoad = if (base == 0L && keepsFlat) Map(t.name -> ev) else Map.empty)
    }
    (last - base, last)
  }

  // ================================================ staging and publish

  /** Test-only fault injection for the crash-atomicity specs: thrown
    * exceptions simulate a crash just before the manifest rename (commit
    * point) or before the i-th post-commit-point publish rename. */
  private[graft] var testFailBeforeManifestRename: () => Unit = () => ()
  private[graft] var testFailBeforePublishRename: Int => Unit = _ => ()

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  /** Optional pre-commit fence, run immediately before every atomic
    * publish's commit point (the manifest rename).
    * graft.cluster.Leadership installs its stale-epoch check here so
    * a deposed leader (raft.rs term fencing, re-expressed for shared
    * storage) aborts BEFORE its write becomes durable — the statement
    * fails whole and staging is cleaned, leaving the successor's log
    * untouched. */
  @volatile private var commitFence: () => Unit = () => ()
  def setCommitFence(f: () => Unit): Unit = commitFence = f

  // wall-clock of the last completed publish, for the health probe's
  // "last publish age" (health.rs reports the same freshness signal);
  // -1 until this engine publishes
  @volatile private[exec] var lastPublishAtMs = -1L

  /** The one publish every writer ends in: land `batches` with the
    * table counters `seqs`, a stream's `replay` id, the watermarks
    * `marks` and the flat-log revocations `mutated` in one atomic
    * publish (publishAtomic, which joins `validate` at the commit point
    * and extends the driver tails), run `committed`, then let each
    * table of `seqs` auto-snapshot — with its `firstLoad` batch when
    * that batch may seed the first checkpoint. */
  private def publish(batches: Seq[(String, DataFrame)],
      seqs: Map[String, Long], replay: Option[(String, Long)] = None,
      marks: Map[String, Long] = Map.empty, mutated: Set[String],
      validate: () => Unit = () => (),
      firstLoad: Map[String, DataFrame] = Map.empty,
      committed: () => Unit = () => ()): Unit = {
    publishAtomic(batches, seqs, replay, marks, mutated, validate)
    committed()
    seqs.foreach { case (n, last) => maybeAutoSnapshot(n, last, firstLoad.get(n)) }
  }

  /** Atomically land event batches + the matching catalog updates.
    *
    * Protocol (the classic write-ahead manifest, same job the
    * reference's WAL does for its transactions — wal.rs,
    * tests/wal_crash_recovery_test.rs):
    *   1. every batch writes its parquet under a fresh staging dir
    *      (parallel, multi-file — no coalesce bottleneck);
    *   2. a manifest listing every staged file, the per-table final
    *      sequence counters, and any stream batch-id lands via ONE
    *      atomic rename — this is the commit point;
    *   3. the publish applies the catalog updates (counters before data:
    *      a fault between the two leaves a harmless sequence hole, never
    *      a duplicate) and renames the staged files into the logs.
    * A failure before 2 deletes staging and rethrows — nothing
    * happened. A failure after 2 throws CommitIncompleteException — the
    * engine-open sweep replays step 3, which is idempotent (counters
    * max-merge; a missing staged file means it already moved). */
  private def publishAtomic(batches: Seq[(String, DataFrame)],
      seqs: Map[String, Long], stream: Option[(String, Long)],
      marks: Map[String, Long], mutated: Set[String],
      validate: () => Unit): Unit = {
    val stagingRoot = new Path(s"$baseDir/$StagingPrefix${System.nanoTime()}")
    val fs = stagingRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // each touched table's tail as it stands before this publish, and
    // the rows of every batch the driver writes itself
    val tailsBefore = batches.map(_._1).distinct
      .map(n => n -> catalog.get(n).flatMap(knownTail)).toMap
    val written = Seq.newBuilder[(String, Option[(StructType, Seq[InternalRow])])]
    try {
      val lines = new StringBuilder
      batches.zipWithIndex.foreach { case ((table, ev), i) =>
        val dir = new Path(stagingRoot, s"batch-$i")
        // staging-only committer trims: direct task-commit renames (v2)
        // and no _SUCCESS marker — the manifest is this protocol's
        // commit record, and the files are listed right below, so the
        // extra rename pass and marker write buy nothing here.
        // Snapshots keep the default committer: their _SUCCESS IS the
        // version-dir completeness marker.
        tracer.span("stage-write", table) {
          val opts = writeOptions(table)
          // literal batches (LocalRelation — VALUES rows and
          // literalized small query batches) stage with a DRIVER-side
          // parquet write: the rows never left the driver, so a Spark
          // job would pay scheduling + task launch + committer
          // protocol to produce the identical file. Since round 17
          // encrypted writes take this path too — writeLocalParquet
          // loads the same modular-encryption factory the job path
          // uses, so SET ENCRYPTION KEY no longer forfeits the OLTP
          // statement floor (measured A/B in EncryptionSpec /
          // SURVEY §8); ANY driver-write failure falls back to the
          // job path after clearing partial output.
          val drove =
            try GraftBridge.writeLocalParquet(ev, dir.toString, opts)
            catch {
              case scala.util.control.NonFatal(e) =>
                scala.util.Try(fs.delete(dir, true))
                System.err.println(
                  s"[graft] driver-side staging of $table fell back " +
                    s"to the job write: ${e.getMessage}")
                None
            }
          written += table -> drove.map(ev.schema -> _)
          if (drove.isEmpty)
            encrypted(ev.write)
              .options(opts)
              .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
              .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
              .parquet(dir.toString)
        }
        for (f <- fs.listStatus(dir) if f.getPath.getName.startsWith("part-"))
          lines.append(s"file\tbatch-$i/${f.getPath.getName}\t${enc(table)}\n")
      }
      seqs.foreach { case (t, s) => lines.append(s"seq\t${enc(t)}\t$s\n") }
      stream.foreach { case (id, b) => lines.append(s"stream\t${enc(id)}\t$b\n") }
      marks.foreach { case (t, v) => lines.append(s"wmark\t${enc(t)}\t$v\n") }
      // flat-log revocations commit atomically with the events that
      // cause them — a crash can never leave a mutated log marked flat
      mutated.foreach(t => lines.append(s"mut\t${enc(t)}\n"))
      val tmp = new Path(stagingRoot, "manifest.tmp")
      val out = fs.create(tmp, true)
      try out.write(lines.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // join the concurrent guard probes — abort pre-commit
      tracer.span("probe-join")(validate())
      commitFence() // HA epoch check — abort while still pre-commit
      testFailBeforeManifestRename()
      if (!fs.rename(tmp, new Path(stagingRoot, "manifest")))
        throw new java.io.IOException(s"manifest rename failed: $stagingRoot")
    } catch {
      case e: Throwable =>
        scala.util.Try(fs.delete(stagingRoot, true))
        throw e
    }
    // ---- commit point passed ----
    lastPublishAtMs = System.currentTimeMillis()
    // roll-forward: completePublish is idempotent, so a transient I/O
    // fault gets ONE immediate in-process retry (the reference replays
    // its WAL without a restart the same way — wal.rs). A fault that
    // persists through the retry surfaces as CommitIncomplete and the
    // next statement's healing sweep (or the reopen sweep) finishes it.
    tracer.span("publish") {
      try completePublish(stagingRoot, hooked = true)
      catch {
        case _: Throwable =>
          try completePublish(stagingRoot, hooked = true)
          catch {
            case e: Throwable =>
              tailsBefore.keys.foreach(tails.forget)
              publishIncomplete = true
              throw new CommitIncompleteException(
                s"commit is durable but its publish did not finish; it " +
                  s"completes on the next statement or engine open " +
                  s"(staging: $stagingRoot): ${e.getMessage}", e)
          }
      }
    }
    tails.extend(tailsBefore, written.result(), catalog.lastSeq)
  }

  /** Step 3 of publishAtomic — also the recovery path the engine-open
    * sweep replays for a manifest that crashed mid-publish. Idempotent:
    * catalog updates max-merge, already-moved files are skipped. */
  private def completePublish(stagingRoot: Path, hooked: Boolean = false): Unit = {
    val fs = stagingRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(stagingRoot, "manifest"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val files = Vector.newBuilder[(String, String)] // (relPath, table)
    val seqs = Map.newBuilder[String, Long]
    val marks = Map.newBuilder[String, Long]
    val mutated = Set.newBuilder[String]
    var stream: Option[(String, Long)] = None
    for (line <- text.split("\n") if line.nonEmpty) line.split("\t") match {
      case Array("file", rel, table) => files += ((rel, dec(table)))
      case Array("seq", table, s) => seqs += (dec(table) -> s.toLong)
      case Array("stream", id, b) => stream = Some((dec(id), b.toLong))
      case Array("wmark", table, v) => marks += (dec(table) -> v.toLong)
      case Array("mut", table) => mutated += dec(table)
      case other =>
        throw new IllegalStateException(s"corrupt manifest line: ${other.mkString("\t")}")
    }
    catalog.commitPublished(seqs.result(), stream, marks.result(),
      mutated.result()) // counters first: hole > duplicate
    for (((rel, table), i) <- files.result().zipWithIndex
        if catalog.get(table).isDefined) {
      if (hooked) testFailBeforePublishRename(i)
      val src = new Path(stagingRoot, rel)
      if (fs.exists(src)) { // absent = already published by a prior pass
        val target = new Path(catalog.logPath(table))
        if (!fs.exists(target)) fs.mkdirs(target)
        // parquet part files carry job UUIDs, so names never collide
        if (!fs.rename(src, new Path(target, src.getName)))
          throw new java.io.IOException(s"rename failed: $src")
      }
    }
    // best-effort: a leftover dir with its manifest replays as a no-op
    scala.util.Try(fs.delete(stagingRoot, true))
  }

  /** CREATE INDEX made physical: every log/snapshot write of a table
    * with declared indexes adds a parquet BLOOM FILTER on the indexed
    * payload columns. Min/max stats already serve range predicates;
    * blooms serve the equality/IN point lookups the reference's B-tree
    * indexes exist for (index.rs:9-36) — a scan with `col = x` skips
    * every row group whose bloom excludes x, which min/max cannot do
    * for high-cardinality unsorted columns. Event-feed reads
    * (FOR SYSTEM_TIME ALL/BETWEEN, CDC) and external consumers of the
    * files benefit directly. */
  private def bloomOptions(t: TableDef): Map[String, String] =
    catalog.indexedColumns(t.name).flatMap(cn =>
      t.columns.find(_.logical.equalsIgnoreCase(cn)).map(c =>
        s"parquet.bloom.filter.enabled#payload.${c.physical}" -> "true")).toMap

  /** The parquet options of every data write of `table` (log batches,
    * snapshots): its bloom filters, and modular encryption while SET
    * ENCRYPTION KEY is on. */
  private[exec] def writeOptions(table: String): Map[String, String] =
    catalog.get(table).map(bloomOptions).getOrElse(Map.empty) ++ encryption

  /** Parquet modular encryption for data-bearing writes (event-log
    * batches, snapshots, matviews) — toggled by SET ENCRYPTION KEY /
    * OFF. Uniform mode: footer + every column under keys wrapped by
    * the registered master key (file magic becomes PARE; nothing is
    * readable without the key). */
  private[exec] var encryptionOn = false

  private def encryption: Map[String, String] =
    if (encryptionOn) Map("parquet.encryption.uniform.key" -> Encryption.MasterKeyId)
    else Map.empty

  private[exec] def encrypted[T](w: org.apache.spark.sql.DataFrameWriter[T])
      : org.apache.spark.sql.DataFrameWriter[T] = w.options(encryption)

  // ================================================ driver-resident tail

  /** Each table's log tail as the driver wrote it (see DriverTails),
    * within the pin-literalization caps. Extended only by the publish;
    * dropped by RESTORE, DROP/CREATE TABLE, VACUUM and REPAIR; a fresh
    * engine knows none. */
  private val tails = new DriverTails(engine.PinLiteralizeMaxRows,
    GraftBridge.LiteralizeByteBudget)

  private def knownTail(t: TableDef): Option[DriverTails.Tail] =
    if (t.attached.isDefined) None
    else tails.get(t.name, catalog.lastSeq(t.name),
      Snapshots.nearest(spark, catalog.snapshotPath(t.name), None),
      t.payloadSchema)

  /** The tail events a state read needs — those in (snapshot, bound] —
    * when the driver holds them. Not for transactions (buffered events
    * union in), attached logs, or dmlRead reads (their row order becomes
    * event order, which the keyed plan fixes). */
  private[exec] def tailAbove(t: TableDef, base: Option[Long], asOf: Option[Long],
      dmlRead: Boolean): Option[Seq[InternalRow]] =
    if (dmlRead || engine.dmlReadScope || engine.txn.isDefined || t.attached.isDefined) None
    else {
      val last = catalog.lastSeq(t.name)
      tails.between(knownTail(t), base.getOrElse(0L),
        asOf.fold(last)(math.min(_, last)), last, t.payloadSchema)
    }

  // newest snapshot sequence per table, lazily primed from storage —
  // saves a filesystem listing per statement
  private val lastSnapSeqs = scala.collection.mutable.HashMap.empty[String, Long]

  /** The newest snapshot sequence of `table` (0 with none). */
  private[exec] def lastSnapshot(table: String): Long =
    lastSnapSeqs.getOrElseUpdate(table,
      Snapshots.nearest(spark, catalog.snapshotPath(table), None).getOrElse(0L))

  /** `table`'s storage changed under the caches (CREATE and DROP TABLE,
    * VACUUM, REPAIR): its tail and newest snapshot are re-learned. */
  private[exec] def forget(table: String): Unit = {
    lastSnapSeqs.remove(table)
    tails.forget(table)
  }

  /** Every table's storage changed (RESTORE). */
  private[exec] def clear(): Unit = {
    lastSnapSeqs.clear()
    tails.clear()
  }

  private[exec] var snapshotsTaken = 0L

  /** `t` was checkpointed at `seq` (SNAPSHOT or the auto-snapshot): a
    * snapshot at the last sequence empties the tail there. */
  private[exec] def snapshotted(t: TableDef, seq: Long): Unit = {
    lastSnapSeqs(t.name) = math.max(lastSnapSeqs.getOrElse(t.name, 0L), seq)
    tails.atSnapshot(t.name, seq, catalog.lastSeq(t.name), t.payloadSchema)
    snapshotsTaken += 1
  }

  // ====================================================== auto-snapshot

  /** Auto-checkpoint policy: after this many events append to a table
    * since its newest snapshot, SNAPSHOT it automatically, bounding
    * state-collapse replay cost as logs grow (the reference compacts on
    * the same trigger shape — engine.rs:739-845). 0 disables. The
    * threshold is deliberately high: snapshots cost a full collapse
    * job, so they should amortize over many statements. Every publish
    * applies it, outside a transaction. */
  var autoSnapshotEvery: Long = 100000L

  private def maybeAutoSnapshot(table: String, lastSeq: Long,
      firstLoad: Option[DataFrame]): Unit =
    if (autoSnapshotEvery > 0 && engine.txn.isEmpty &&
        lastSeq - lastSnapshot(table) >= autoSnapshotEvery)
      firstLoad match {
        case Some(ev) if lastSnapshot(table) == 0L &&
            Snapshots.available(spark, catalog.snapshotPath(table)).isEmpty =>
          // first bulk load into an empty table: the appended batch
          // IS the collapsed state (unique pks enforced by the
          // guard, all INSERT-typed) and the just-published log
          // files carry exactly its bytes (same rows, same parquet
          // options) — small loads COPY those files into place with
          // no Spark job at all; large ones keep the distributed
          // write, skipping only the log re-read and the collapse
          // window
          if (!Snapshots.copyFrom(spark, catalog.logPath(table),
              catalog.snapshotPath(table), lastSeq))
            Snapshots.writePrecollapsed(ev, catalog.snapshotPath(table),
              lastSeq, writeOptions(table))
          snapshotted(catalog.require(table), lastSeq)
        case _ => engine.snapshot(table)
      }

  // ================================================ batch entry points

  /** `batch` projected onto `t`'s columns by name and cast to their
    * declared types; a column the batch lacks reads NULL. */
  private[graft] def byName(batch: DataFrame, t: TableDef): DataFrame =
    batch.select(t.columns.map(c =>
      (if (batch.columns.contains(c.logical)) col(c.logical) else lit(null))
        .cast(c.dataType).as(c.logical)): _*)

  /** One micro-batch from a streaming source (graft.streaming
    * .StreamIngest): columns matched by name like JSONL ingest, missing
    * ones NULL, appended as INSERT events. PK/FK guards are skipped —
    * a stream is bulk ingestion (like COPY) and guard jobs per
    * micro-batch would double its latency. Runs on the streaming
    * thread: the write lock serializes it against SQL statements, and
    * publishStream keeps the batch out of any open transaction's
    * buffer (a ROLLBACK must never drop streamed rows — the txn's
    * provisional sequences re-shift at COMMIT instead). With a stream
    * id the batch is exactly-once (see writeBatch). */
  private[graft] def ingestStream(table: String, batch: DataFrame,
      streamId: Option[String], batchId: Long): Unit = {
    val replay = streamId.map(_ -> batchId)
    writeBatch(s"INGEST STREAM $table", replay) {
      val t = catalog.require(table)
      val rows = byName(batch, t)
      // a literal batch stays on the driver and stages without a job;
      // anything else pins, so its sequence offsets and the staging
      // write see one partition layout
      publishStream(Seq(t -> (if (engine.isLiteral(rows)) rows
        else engine.pinBatch(rows).df)), replay, mutated = Set(t.name))
    }
  }

  /** The publish every stream batch ends in. Each table's rows become
    * one INSERT event frame sequenced from the table's last sequence —
    * outside any open transaction — and the frames that carry events
    * land in ONE atomic publish with the micro-batch's `replay` id (see
    * writeBatch), the watermarks `marks` and the flat-log revocations
    * `mutated`; then each table may auto-snapshot. A batch that
    * advanced nothing publishes only to record its id, and without an
    * id not at all. */
  private[graft] def publishStream(parts: Seq[(TableDef, DataFrame)],
      replay: Option[(String, Long)], mutated: Set[String],
      marks: Map[String, Long] = Map.empty): Unit = {
    val framed = for ((t, rows) <- parts) yield {
      val physical = physicalPayload(t, rows)
      val (ev, last) = eventFrame(t, physical, engine.isLiteral(physical),
        catalog.lastSeq(t.name))
      (t.name, ev, last)
    }
    val advanced = framed.filter { case (n, _, last) => last > catalog.lastSeq(n) }
    if (advanced.nonEmpty || replay.isDefined)
      publish(advanced.map { case (n, ev, _) => n -> ev },
        framed.map { case (n, _, last) => n -> last }.toMap,
        replay, marks, mutated)
  }

  /** Apply one replicated micro-batch of RAW events (the primary's
    * event frame, verbatim — sequence/ts/event_type/pk/payload) into
    * this engine's log (graft.streaming.Replication). Unlike
    * ingestStream, sequences are PRESERVED, not assigned: the replica
    * must serve the primary's exact temporal history, so the counter
    * advances to the batch's max sequence (max-merged — it never
    * regresses). Exactly-once: the batch id commits in the same atomic
    * manifest as the events. */
  private[graft] def applyReplicated(table: String, batch: DataFrame,
      streamId: String, batchId: Long): Unit = {
    val replay = Some(streamId -> batchId)
    writeBatch(s"APPLY REPLICATED $table", replay) {
      val t = catalog.require(table)
      require(t.attached.isEmpty, s"cannot replicate into attached table $table")
      val pinned = engine.pinBatch(batch).df
      val mx = pinned.agg(max(col("sequence"))).head()
      val hi =
        if (mx.isNullAt(0)) catalog.lastSeq(t.name) // empty batch: record the id only
        else math.max(mx.getLong(0), catalog.lastSeq(t.name))
      publish(Seq((t.name, pinned)), Map(t.name -> hi), replay,
        // raw replicated frames carry whatever event types the primary
        // landed — the replica cannot certify anything about them
        mutated = Set(t.name))
    }
  }

  sweepStaging() // crash recovery at open
}

object Commit {
  /** Name prefix of a publish's staging dir under the base dir. */
  val StagingPrefix = ".txn-staging-"

  /** A buffered multi-statement transaction (sql_bridge.rs:453-568,
    * transaction.rs). DML inside BEGIN...COMMIT appends pinned event
    * batches to this buffer instead of the parquet log; reads union
    * the buffer back in (read-your-writes); COMMIT flushes the batches
    * in order, ROLLBACK discards them. Catalog DDL stays immediate
    * (non-transactional), like most engines. Buffered sequence numbers
    * are PROVISIONAL: if a concurrent direct writer (streaming ingest)
    * advances the log while the transaction is open, COMMIT shifts each
    * batch by the table's offset so flushed sequences stay unique and
    * contiguous.
    *
    * Scale note: the buffer holds pinned DataFrames
    * (executor block storage, not driver heap), so a large transaction
    * costs the same memory as the same statements outside one. */
  private[exec] final class Txn(catalog: TableCatalog) {
    // (table, pinned event frame, last provisional sequence in batch)
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Long)]
    // tables whose buffered writes revoke the flat-log certificate at
    // COMMIT (PATCH/SOFT_DELETE or unprobed INSERT). A savepoint
    // rollback may leave a table here whose mutating writes were all
    // rolled back — the certificate is then revoked unnecessarily,
    // which is conservative (reads fall back to the keyed collapse),
    // never wrong
    val mutated = scala.collection.mutable.HashSet.empty[String]
    val seqs = scala.collection.mutable.HashMap.empty[String, Long]
    // catalog.lastSeq at the first buffered append per table — the
    // anchor for the commit-time re-sequencing offset
    val baseSeqs = scala.collection.mutable.HashMap.empty[String, Long]
    // snapshot-isolation read horizon: catalog.lastSeq at this table's
    // FIRST access (read or write) inside the transaction. Reads see
    // the durable log only up to this sequence (plus own buffered
    // writes); COMMIT detects write-write conflicts against events
    // other writers landed past it (mvcc.rs snapshot semantics).
    // Deliberately NOT restored by savepoint rollback — the snapshot
    // is transaction-wide, like PG REPEATABLE READ.
    val snapSeqs = scala.collection.mutable.HashMap.empty[String, Long]
    // (name, pending length, seq snapshot); later entries shadow earlier
    val savepoints =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Map[String, Long])]
    /** PG-style abort: any failed statement inside the transaction
      * blocks everything except COMMIT (treated as ROLLBACK), ROLLBACK,
      * and ROLLBACK TO SAVEPOINT (sql_bridge.rs:330-345). */
    var aborted = false

    def restore(len: Int, seqSnap: Map[String, Long]): Unit = {
      pending.dropRightInPlace(pending.length - len)
      seqs.clear(); seqs ++= seqSnap
      // a table whose every batch was rolled away must re-anchor on its
      // next append — a stale anchor would over-shift the new batches
      // at COMMIT and leave a permanent sequence gap
      baseSeqs.filterInPlace { case (tbl, _) => pending.exists(_._1 == tbl) }
    }

    /** Run one statement in this transaction: a failed statement
      * leaves no partial batches behind, then aborts the transaction
      * (PG semantics, sql_bridge.rs:251-264). */
    def statement[T](body: => T): T = {
      if (aborted)
        throw new IllegalStateException(
          "current transaction is aborted, commands ignored until end of transaction block")
      val (len, seqSnap) = (pending.length, seqs.toMap)
      try body
      catch {
        case e: Throwable =>
          restore(len, seqSnap)
          aborted = true
          throw e
      }
    }

    /** Pin (at first access) and return the snapshot horizon of
      * `table`. */
    def horizon(table: String): Long =
      snapSeqs.getOrElseUpdate(table, catalog.lastSeq(table))

    /** The commit-time re-sequencing shift of `table`'s buffered
      * events: how far concurrent direct appends (streaming ingest)
      * advanced its log past this transaction's anchor; 0 when nothing
      * interleaved. COMMIT shifts by it, and reads inside the
      * transaction read the buffer back shifted by the same offset. */
    def offset(table: String): Long =
      baseSeqs.get(table).fold(0L)(catalog.lastSeq(table) - _)

    /** Buffer one statement's event frame; flushed at COMMIT, dropped
      * at ROLLBACK. */
    def buffer(table: String, ev: DataFrame, last: Long, keepsFlat: Boolean): Unit = {
      horizon(table) // a write also pins the conflict horizon
      baseSeqs.getOrElseUpdate(table, catalog.lastSeq(table))
      pending += ((table, ev, last))
      seqs(table) = last
      if (!keepsFlat) mutated += table
    }
  }

  /** Shift an event frame's sequences (and the sequence-derived clock)
    * by `off` — identity when nothing interleaved. */
  private[exec] def shift(ev: DataFrame, off: Long): DataFrame =
    if (off == 0L) ev
    else ev.withColumn("sequence", col("sequence") + off)
      .withColumn("ts", timestamp_seconds(lit(EventLog.ClockEpoch) + col("sequence")))

  /** Thrown when a commit passed its manifest commit point but the
    * publish into the logs did not finish (injected fault or I/O
    * error). The data is durable: the next engine open on this base dir
    * rolls the manifest forward. In-process reads may miss part of the
    * batch until then — close() and reopen. */
  final class CommitIncompleteException(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)
}
