package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> catalyst Expression bridge for graft's custom
  * expressions. Spark 4 split `Column` from catalyst (Spark Connect),
  * making the direct constructors `private[sql]`; custom native
  * expressions (the extension tier below a full LogicalPlan/Strategy)
  * still need to enter the Column algebra somewhere, and this is the
  * same doorway other Spark-native libraries use. Only these two
  * one-line delegations live inside the spark namespace. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A materialized batch: the pinned frame, the pin job's
    * per-partition row counts, the sum of the caller's per-row tally,
    * and the persisted RDD to release later (None when the batch came
    * back as a driver-resident LocalRelation and no blocks exist). */
  final case class Pin(df: DataFrame, counts: Array[Long], tally: Long,
      rdd: Option[org.apache.spark.rdd.RDD[_]]) {
    /** The counts when they describe `df`'s own partitions, which is
      * while the batch stays distributed. A LocalRelation's partition
      * layout is Spark's to choose, so a literal batch has none. */
    def layout: Option[Array[Long]] = rdd.map(_ => counts)
  }

  /** The tally of a pin that needs only its row counts. */
  val NoTally: InternalRow => Long = _ => 0L

  /** Total/per-partition byte ceiling for a batch that may become a
    * driver-resident LocalRelation: 1 MB embeds safely in any plan
    * (far under broadcast/task-size limits) and bounds the collect
    * regardless of per-row width. */
  val LiteralizeByteBudget: Long = 1L << 20

  /** What one partition reports back from the pin job. */
  private final case class PartStats(rows: Long, tally: Long,
      complete: Boolean, bytes: Long, carried: Array[InternalRow])

  /** THE pin: materialize `df`'s physical RDD into persisted blocks
    * and learn what the caller needs about the batch in the SAME job —
    * where a localCheckpoint followed by a count or a probe pays two.
    * Mirrors Dataset.localCheckpoint's own internals (execute → copy →
    * persist → LogicalRDD.fromDataset); the one job is the forcing
    * action localCheckpoint(eager) would have spent on a plain count.
    * It works at the InternalRow layer, so every downstream consumer
    * (guard probes, sequence assignment, the staging write) reads the
    * blocks without Row boxing. The job always returns:
    *   - per-partition row counts. Row-preserving narrow projections
    *     over the pin (physical casts, event shaping, SET-clause
    *     application) keep the partition layout, so the counts stay
    *     valid for EventLog.assignWithOffsets downstream;
    *   - Σ `tally(row)` over the batch, folded into the same pass: a
    *     fixpoint's changed-flag count, the postings (array lengths)
    *     or distinct non-null keys that bound a probe's key set.
    * With `literalRowCap >= 0` each partition also carries up to
    * cap+1 rows back. When the batch proves to be at or under the cap
    * and the 1 MB byte budget (so every partition's rows came back
    * whole), the result is a driver-resident LocalRelation: the whole
    * downstream statement then rides the literal fast path (driver
    * probe folding, job-free sequence assignment, driver-side staging
    * write) and no blocks remain to track. This is the floor under
    * OLTP-shaped UPDATE/DELETE statements, whose matched batches are
    * usually a handful of rows. */
  def pin(df: DataFrame, tally: InternalRow => Long = NoTally,
      literalRowCap: Long = -1L): Pin = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cds.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = if (literalRowCap < 0) 0 else literalRowCap.toInt + 1
    // row counts bound rows, not BYTES: a fixed-width-but-wide schema
    // (array<double> embeddings) at the row cap could ship multi-GB to
    // the driver only to be discarded. The per-partition byte budget
    // caps the carry; a partition that stops buffering reports itself
    // incomplete and the batch stays distributed. The TOTAL byte gate
    // below additionally bounds what may become a plan-embedded
    // LocalRelation — with it, the row caps need not assume worst-case
    // per-row strings, so ~1000-row short-string DML batches (the OLTP
    // scenario shape) literalize instead of paying the distributed
    // staging write.
    val byteBudget = LiteralizeByteBudget
    val fieldTypes = df.schema.fields.map(_.dataType)
    // an RDD without partitions (AQE's empty-result plans) needs no
    // job, and localCheckpoint would launch none: say so up front
    // rather than post an empty job for the scheduler to count
    val parts = if (rdd.partitions.isEmpty) Array.empty[PartStats]
      else rdd.mapPartitions({ it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      // non-unsafe rows (driver-built RDD sources) carry no size; a
      // flat per-row guess could undercount wide rows past the byte
      // budget, so MEASURE them through an UnsafeProjection — the
      // converted copy is what buffers, so the budget gates the exact
      // bytes that would embed in the driver plan
      lazy val toUnsafe =
        catalyst.expressions.UnsafeProjection.create(fieldTypes)
      var n = 0L
      var t = 0L
      var bytes = 0L
      var complete = true
      it.foreach { r =>
        n += 1
        t += tally(r)
        if (buf.length < keep && bytes <= byteBudget) {
          val u = r match {
            case u: catalyst.expressions.UnsafeRow => u
            case other => toUnsafe(other).copy()
          }
          bytes += u.getSizeInBytes.toLong
          if (bytes <= byteBudget) buf += u else complete = false
        } else if (n > buf.length) complete = false
      }
      Iterator.single(PartStats(n, t, complete, bytes, buf.toArray))
    }, preservesPartitioning = true).collect()
    val counts = parts.map(_.rows)
    val total = parts.map(_.tally).sum
    // total rows <= cap AND total bytes within ONE budget AND every
    // partition carried ALL its rows ==> the carried arrays are the
    // whole batch and small enough to live in a driver plan — safe to
    // become the batch
    if (literalRowCap >= 0 && counts.sum <= literalRowCap &&
        parts.map(_.bytes).sum <= byteBudget && parts.forall(_.complete)) {
      rdd.unpersist(false)
      Pin(localFrame(cds.sparkSession, df.schema,
        parts.iterator.flatMap(_.carried).toIndexedSeq), counts, total, None)
    } else {
      val plan = execution.LogicalRDD.fromDataset(rdd, cds, isStreaming = false)
      Pin(classic.Dataset.ofRows(cds.sparkSession, plan), counts, total,
        Some(rdd))
    }
  }

  /** Driver-side single-file parquet write of a LITERAL batch — the
    * floor under OLTP-shaped statement streams. A DML batch whose
    * optimized plan is a LocalRelation lives on the driver already;
    * staging it through a Spark job pays scheduling, task launch and
    * the output-committer protocol (~100-140 ms warm) to move rows
    * that never left the driver. This writes the same parquet
    * directly with Spark's own ParquetWriteSupport under the same
    * session conf (schema, legacy format, timestamp type, rebase
    * modes, field ids), the session codec, and any per-column bloom
    * options — so readers, blooms and dtypes are indistinguishable
    * from the job path's output. The file lands in `dir` under a
    * Spark-shaped part name carrying a fresh uuid (publish renames by
    * NAME into a shared log dir) and the CODEC's true extension.
    * Returns the rows it wrote, in `df.schema`, or None (nothing
    * written) when the plan is NOT a LocalRelation; callers fall back
    * to the job write. */
  def writeLocalParquet(df: DataFrame, dir: String,
      options: Map[String, String]): Option[Seq[InternalRow]] = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    // a coalesce(1) over a literal batch (the small-batch single-file
    // discipline) is a no-op for a single driver-written file — see
    // through it; anything else is not driver-resident
    def localOf(p: catalyst.plans.logical.LogicalPlan)
        : Option[catalyst.plans.logical.LocalRelation] = p match {
      case lr: catalyst.plans.logical.LocalRelation => Some(lr)
      case r: catalyst.plans.logical.Repartition if !r.shuffle =>
        localOf(r.child)
      case _ => None
    }
    localOf(cds.queryExecution.optimizedPlan) match {
      case Some(lr) =>
        val spark = cds.sparkSession
        val sqlConf = spark.sessionState.conf
        val conf = spark.sessionState.newHadoopConfWithOptions(options)
        execution.datasources.parquet.ParquetWriteSupport
          .setSchema(df.schema, conf)
        conf.set(internal.SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
          sqlConf.writeLegacyParquetFormat.toString)
        conf.set(internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
          sqlConf.parquetOutputTimestampType.toString)
        conf.set(internal.SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
          sqlConf.parquetFieldIdWriteEnabled.toString)
        conf.set(internal.SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
          sqlConf.getConf(internal.SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
        conf.set(internal.SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
          sqlConf.getConf(internal.SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
        conf.set(internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
          sqlConf.legacyParquetNanosAsLong.toString)
        conf.set(internal.SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
          sqlConf.parquetAnnotateVariantLogicalType.toString)
        conf.set(internal.SQLConf.VARIANT_WRITE_SHREDDING_ENABLED.key,
          sqlConf.getConf(internal.SQLConf.VARIANT_WRITE_SHREDDING_ENABLED).toString)
        final class B(out: org.apache.parquet.io.OutputFile)
            extends org.apache.parquet.hadoop.ParquetWriter.Builder[
              catalyst.InternalRow, B](out) {
          override def self(): B = this
          override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
              : org.apache.parquet.hadoop.api.WriteSupport[catalyst.InternalRow] =
            new execution.datasources.parquet.ParquetWriteSupport
        }
        val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName
          .fromConf(sqlConf.parquetCompressionCodec)
        val p = new org.apache.hadoop.fs.Path(dir,
          s"part-00000-${java.util.UUID.randomUUID}.c000" +
            s"${codec.getExtension}.parquet")
        var b = new B(org.apache.parquet.hadoop.util.HadoopOutputFile
            .fromPath(p, conf))
          .withConf(conf)
          .withCompressionCodec(codec)
        val bloomPrefix = "parquet.bloom.filter.enabled#"
        for ((k, v) <- options if k.startsWith(bloomPrefix))
          b = b.withBloomFilterEnabled(k.substring(bloomPrefix.length),
            v.toBoolean)
        // parquet modular encryption (round 17): a bare ParquetWriter
        // does NOT consult the crypto factory on its own (that is
        // ParquetOutputFormat's job-path wiring), so load the SAME
        // factory + KMS the job write uses from the conf whenever a
        // uniform key is requested — the driver-written file is
        // PARE-magic, fresh-data-keyed, its keys wrapped by the same
        // in-process KMS: indistinguishable from the job path's output
        if (conf.get("parquet.encryption.uniform.key") != null)
          b = b.withEncryption(
            org.apache.parquet.crypto.EncryptionPropertiesFactory
              .loadFactory(conf)
              .getFileEncryptionProperties(conf, p, null))
        val w = b.build()
        try lr.data.foreach(w.write) finally w.close()
        Some(lr.data)
      case None => None
    }
  }

  /** What one `readLocalParquet` call found: the files it looked at,
    * the row groups whose footer statistics may hold matching rows
    * (`kept`) out of all of theirs, the uncompressed bytes of the
    * requested columns in those row groups, and the rows it decoded —
    * None when `bytes` is over the byte budget and nothing was
    * decoded. */
  final case class LocalRead(files: Int, kept: Int, total: Int, bytes: Long,
      rows: Option[Seq[InternalRow]])

  /** Requested-column bytes (uncompressed) of the candidate row groups
    * a driver point read may decode; past it the scan stays a Spark
    * job. The job decodes the same row groups with the same reader, so
    * the driver only loses by decoding serially what the job spreads
    * over cores, and the job adds ~85 ms of fixed cost. Measured on a
    * 4-core host under load 3 (local[4]), with pk order hashed so no
    * page pruned: the whole driver read took ~35 ms for candidate row
    * groups of 1.1 MB (all columns; the requested ones are most of it),
    * 65–115 ms for 4.6 MB and 90–170 ms for 9.3 MB, of which 10–30 ms
    * is the reader's Hadoop-conf broadcast. Serial decode of D ms breaks
    * even with a 4-way job at D·(1 − 1/4) ≈ 85 ms, about 8 MB. A
    * snapshot whose pk is clustered (a first load) prunes to one page of
    * one row group and reads in a few ms. The log read pays the same
    * budget: its files outside the read's `sequence` bounds drop at the
    * footer and do not count, and a bulk load whose pks are clustered
    * (150k rows in one 6.95 MB row group, all columns) stays inside it
    * and prunes to a page; a bulk batch with unordered pks makes every
    * row group a candidate and past the budget keeps the job. */
  private val PointReadByteBudget: Long = 8L << 20

  /** Footers of the parquet files driver reads have opened, keyed by
    * (path, length, modification time): a file rewritten in place gets
    * a new key, and snapshot version dirs are write-once anyway.
    * Encrypted footers are never kept, so a key withdrawn by SET
    * ENCRYPTION OFF or a new master key cannot keep serving their
    * statistics. Cleared whole when it reaches `MaxFooters`. */
  private val footers = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.parquet.hadoop.metadata.ParquetMetadata]()
  private val MaxFooters = 1024

  private def footerOf(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val key = (st.getPath.toString, st.getLen, st.getModificationTime)
    Option(footers.get(key)).getOrElse {
      val f = execution.datasources.parquet.ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      if (f.getFileMetaData.getEncryptionType ==
          org.apache.parquet.hadoop.metadata.FileMetaData.EncryptionType.UNENCRYPTED) {
        if (footers.size >= MaxFooters) footers.clear()
        footers.put(key, f)
      }
      f
    }
  }

  /** Driver-side parquet read of the rows of `relation` that may match
    * `filters` — the read-side twin of `writeLocalParquet`, and the only
    * place the engine opens parquet files itself. `filters` are
    * conjuncts over the relation's output, translated as a scan
    * translates its data filters. It works from the footers first: the
    * row groups whose min/max statistics can hold rows matching every
    * translatable conjunct (through Spark's own ParquetFilters, so every
    * pushable type prunes as it does in a scan) are the candidates — a
    * pk key prunes by the key's range, and a `sequence` bound drops
    * whole log files outside it before they count against the budget.
    * With none, no reader is built; when their bytes exceed the budget
    * nothing is decoded (rows = None; the caller keeps the scan).
    * Otherwise each candidate row group is read through
    * `ParquetFileFormat.buildReaderWithPartitionValues` as a split of
    * its own, under the session's Hadoop conf plus the relation's
    * options, with `filters` as the pushed filters — so
    * modular encryption, datetime rebase modes, a field the file lacks
    * reading as NULL, bloom-filter row-group pruning and column-index
    * page pruning all behave exactly as in the job's scan. Rows come
    * back in `required`'s layout; they may include rows the filters do
    * not match (pruning is by row group and page), so the caller keeps
    * its filter above them. */
  def readLocalParquet(spark: SparkSession,
      relation: execution.datasources.HadoopFsRelation,
      required: types.StructType, filters: Seq[Expression]): LocalRead = {
    import scala.jdk.CollectionConverters._
    import execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetOptions}
    val pushed = filters.flatMap(execution.datasources.DataSourceStrategy
      .translateFilter(_, supportNestedPredicatePushdown = true))
    val cs = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = cs.sessionState.conf
    val conf = cs.sessionState.newHadoopConfWithOptions(relation.options)
    val rebaseMode = new ParquetOptions(relation.options, sqlConf).datetimeRebaseModeInRead
    val files = relation.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
    val picked = files.map { st =>
      val footer = footerOf(st, conf)
      val meta = footer.getFileMetaData
      val blocks = footer.getBlocks
      val parquetFilters = new ParquetFilters(meta.getSchema,
        sqlConf.parquetFilterPushDownDate, sqlConf.parquetFilterPushDownTimestamp,
        sqlConf.parquetFilterPushDownDecimal, sqlConf.parquetFilterPushDownStringPredicate,
        sqlConf.parquetFilterPushDownInFilterThreshold, sqlConf.caseSensitiveAnalysis,
        execution.datasources.DataSourceUtils.datetimeRebaseSpec(
          meta.getKeyValueMetaData.get, rebaseMode))
      val pred = pushed.filter(_ => sqlConf.parquetFilterPushDown)
        .flatMap(parquetFilters.createFilter)
        .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
      val kept = pred.fold(blocks)(p =>
        org.apache.parquet.filter2.compat.RowGroupFilter.filterRowGroups(
          org.apache.parquet.filter2.compat.FilterCompat.get(p), blocks, meta.getSchema))
      (st, blocks.size, kept.asScala.toSeq)
    }
    val kept = picked.flatMap(_._3)
    val top = required.fieldNames.toSet
    val bytes = kept.flatMap(_.getColumns.asScala)
      .filter(c => top(c.getPath.toArray.head))
      .map(_.getTotalUncompressedSize).sum
    val rows =
      if (bytes > PointReadByteBudget || relation.partitionSchema.nonEmpty) None
      else if (kept.isEmpty) Some(Nil)
      else {
        val reader = new ParquetFileFormat().buildReaderWithPartitionValues(cs,
          relation.dataSchema, relation.partitionSchema, required, pushed,
          relation.options +
            (execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> "false"),
          conf)
        // the vectorized reader hands out one mutable row per batch slot
        val toUnsafe = catalyst.expressions.UnsafeProjection.create(required)
        Some(for ((st, _, rgs) <- picked; rg <- rgs;
            r <- reader(execution.datasources.PartitionedFile(InternalRow.empty,
              org.apache.spark.paths.SparkPath.fromFileStatus(st),
              rg.getStartingPos, rg.getCompressedSize, Array.empty[String],
              st.getModificationTime, st.getLen)))
          yield toUnsafe(r).copy())
      }
    LocalRead(files.size, kept.size, picked.map(_._2).sum, bytes, rows)
  }

  /** A driver-resident frame over `rows` (InternalRows in `schema`):
    * a LocalRelation, so reading it runs no Spark job. */
  def localFrame(spark: SparkSession, schema: types.StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(
        catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** A frame over an already-optimized plan (another frame's
    * `optimizedPlan`): its own optimization starts from what that pass
    * did, so rules that read data at optimize time (a driver point
    * read) do not read it again. */
  def frameOf(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a SQL function on an ALREADY-RUNNING session (notebooks,
    * tests). `spark.sql.extensions` is a static conf applied only at
    * session construction; this is the runtime path to the same
    * registry. */
  def registerFunction(spark: SparkSession, name: String,
      usage: String,
      builder: Seq[Expression] => Expression): Unit = {
    val info = new catalyst.expressions.ExpressionInfo(
      "graft.GraftExtensions", null, name, usage, "")
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(catalyst.FunctionIdentifier(name), info, builder)
  }
}
