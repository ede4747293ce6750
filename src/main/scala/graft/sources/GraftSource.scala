package graft.sources

import graft.exec.QueryEngine
import graft.sql.SystemTime

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * Spark-native client surface of a graft database, the analogue of
  * the reference's programmatic client (crates/driftdb-client/src): a
  * plain Spark session mounts any graft base dir as a data source,
  * with the engine's full read governance and temporal semantics
  * riding along.
  *
  * Read options:
  *   - `dir`     (required) — the graft base directory
  *   - `table`   (required) — table name
  *   - `asOfSeq` — time travel: state as of this event sequence
  *   - `asOfTs`  — time travel: state as of this timestamp string
  *     (at most one of asOfSeq/asOfTs)
  *   - `user`    — run the read as this (non-superuser) session user:
  *     privilege checks and row-level-security policies apply exactly
  *     as they would over SQL or the wire — the connector is NOT a
  *     side door around governance
  *
  * The scan is pruned and filtered: Spark's requested columns and
  * pushable predicates re-enter the engine's DataFrame before
  * execution, so they reach the parquet scans underneath the state
  * collapse (pk predicates push below the collapse window). Spark
  * re-applies every filter on top — pushing here is a scan-size
  * optimization, never a correctness dependency.
  *
  * Write: `SaveMode.Append` bulk-appends through the same governed
  * path as COPY FROM (privileges, RLS WITH CHECK, constraints,
  * triggers, atomic publish), inside the engine's batch envelope
  * (`Commit.writeBatch`). The envelope takes the base-dir write
  * lock (BaseDirLock), so an append into a dir that a live engine
  * holds (a running PG server, say) fails with "locked by live engine"
  * instead of assigning sequences from a second copy of the catalog.
  * `SaveMode.Overwrite` is TRUNCATE + append — and because tables are
  * event-sourced, the overwritten state remains queryable with FOR
  * SYSTEM_TIME. */
final class GraftSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def required(params: Map[String, String], key: String): String =
    params.getOrElse(key, throw new IllegalArgumentException(
      s"graft data source: required option '$key' is missing"))

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    new GraftRelation(sqlContext, required(parameters, "dir"),
      required(parameters, "table"), parameters)

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val dir = required(parameters, "dir")
    val table = required(parameters, "table")
    val engine = new QueryEngine(sqlContext.sparkSession, dir)
    try {
      val sess = GraftRelation.sessionFor(engine, parameters)
      mode match {
        case SaveMode.Append =>
          engine.ingestFrameAs(sess, table, data)
        case SaveMode.Overwrite =>
          // truncate + append as ONE transaction: a failed append
          // (constraint, RLS WITH CHECK, trigger) must roll the
          // truncate back too, never leave the table empty
          sess.sql("BEGIN")
          try {
            sess.sql(s"TRUNCATE TABLE $table")
            engine.ingestFrameAs(sess, table, data)
            sess.sql("COMMIT")
          } catch {
            case e: Throwable =>
              scala.util.Try(sess.sql("ROLLBACK")); throw e
          }
        case other => throw new IllegalArgumentException(
          s"graft data source supports SaveMode.Append and " +
            s"SaveMode.Overwrite, got $other")
      }
      new GraftRelation(sqlContext, dir, table, parameters)
    } finally engine.close()
  }
}

object GraftRelation {
  /** Session per the `user` option: absent → a fresh session with the
    * engine default (root superuser) context. */
  private[sources] def sessionFor(engine: QueryEngine,
      params: Map[String, String]): engine.Session = {
    val s = engine.newSession()
    params.get("user").foreach(u =>
      s.setAuth(u, roles = Set.empty, superuser = false))
    s
  }

  /** Translate a Spark source filter into a Column predicate; None for
    * shapes we don't push (Spark re-applies everything regardless). */
  private[sources] def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case EqualNullSafe(a, v) => Some(col(a) <=> v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case StringEndsWith(a, s) => Some(col(a).endsWith(s))
    case StringContains(a, s) => Some(col(a).contains(s))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

final class GraftRelation(
    override val sqlContext: SQLContext,
    dir: String,
    table: String,
    params: Map[String, String])
  extends BaseRelation with PrunedFilteredScan {

  private def systemTimeClause: String =
    (params.get("asOfSeq"), params.get("asOfTs")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft data source: asOfSeq and asOfTs are mutually exclusive")
      case (Some(s), None) => s" FOR SYSTEM_TIME AS OF @SEQ:${s.toLong}"
      case (None, Some(ts)) => s" FOR SYSTEM_TIME AS OF '$ts'"
      case (None, None) => ""
    }

  /** The governed frame: the exact SELECT a SQL session would run —
    * privileges, RLS, and temporal resolution all via the engine. The
    * engine exists only long enough to ANALYZE the statement (catalog
    * reads happen at plan time; execution scans parquet directly), so
    * it closes immediately — a relation never leaks an open engine. */
  private lazy val frame: DataFrame = {
    val engine = new QueryEngine(sqlContext.sparkSession, dir)
    try GraftRelation.sessionFor(engine, params)
      .sql(s"SELECT * FROM $table$systemTimeClause")
    finally engine.close()
  }

  override lazy val schema: StructType = frame.schema

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.toSeq.flatMap(GraftRelation.toColumn)
      .foldLeft(frame)(_ where _)
    val pruned =
      if (requiredColumns.isEmpty) filtered
      else filtered.select(requiredColumns.toSeq.map(col): _*)
    pruned.rdd
  }
}
