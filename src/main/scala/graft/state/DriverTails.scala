package graft.state

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.{DataType, StructType}

/** The driver-resident log tail of each table: the exact event rows in
  * (from, upTo], where `from` is a snapshot sequence or 0. A read above
  * the newest snapshot whose events are all here folds them on the
  * driver (`StateView.overTail`) instead of scanning and collapsing the
  * log slice. The tail is filled only from rows the driver wrote itself
  * (literal batches staged without a Spark job), so keeping it never
  * runs one.
  *
  * Rules that keep it exact:
  *   - a publish continues a tail only with batches whose sequences are
  *     exactly (upTo, upTo + n] and whose payload schema is the tail's,
  *     within `rowCap` rows and `byteCap` bytes, ending at the table's
  *     new last sequence; anything else makes the tail unknown;
  *   - a read may use it only while it reaches the table's last
  *     sequence, starts at or below the read's snapshot, and has the
  *     catalog's payload schema;
  *   - unknown means no entry. A table whose newest snapshot (or 0,
  *     with none) IS its last sequence has a known empty tail there, so
  *     the tail comes back with the next snapshot at the last sequence.
  *
  * Writes are statement-serialized by the engine; the concurrent map
  * serves reads planned on pool threads. */
final class DriverTails(rowCap: Long, byteCap: Long) {
  import DriverTails.Tail

  private val known = new java.util.concurrent.ConcurrentHashMap[String, Tail]()

  /** The table's tail, if known. */
  def get(table: String, lastSeq: Long, newestSnapshot: => Option[Long],
      payload: StructType): Option[Tail] =
    Option(known.get(table)).orElse(
      if (newestSnapshot.getOrElse(0L) != lastSeq) None
      else Some(atSnapshot(table, lastSeq, lastSeq, payload)))

  /** A snapshot at the last sequence empties the tail there. */
  def atSnapshot(table: String, seq: Long, lastSeq: Long,
      payload: StructType): Tail = {
    val e = Tail(seq, seq, payload, Vector.empty, 0L)
    if (seq == lastSeq) known.put(table, e)
    e
  }

  def forget(table: String): Unit = known.remove(table)

  def clear(): Unit = known.clear()

  /** The events in (from, bound] — from = the read's snapshot or 0 —
    * when the tail holds them exactly. A snapshot AT the bound needs
    * none. */
  def between(tail: => Option[Tail], from: Long, bound: Long, lastSeq: Long,
      payload: StructType): Option[Seq[InternalRow]] =
    if (from == bound) Some(Nil)
    else tail.collect {
      case tl if tl.upTo == lastSeq && tl.from <= from && from <= bound &&
          samePayload(tl.payload, payload) =>
        tl.rows.filter { r =>
          val s = r.getLong(0)
          s > from && s <= bound
        }
    }

  /** After a publish: continue each table's tail (as it stood before
    * the publish) with the batches written, in order — Some(schema,
    * rows) for a batch the driver wrote itself, None for one a Spark
    * job wrote. A batch carrying a NULL pk breaks the tail: the
    * driver-side fold keys on the pk (stream batches skip the guards
    * that reject one), so such a log reads through the keyed plan. */
  def extend(before: Map[String, Option[Tail]],
      written: Seq[(String, Option[(StructType, Seq[InternalRow])])],
      lastSeq: String => Long): Unit =
    for ((table, start) <- before) {
      val next = written.filter(_._1 == table).foldLeft(start) {
        case (Some(tl), (_, Some((schema, rows)))) =>
          val toUnsafe = UnsafeProjection.create(schema)
          val add = rows.map(r => toUnsafe(r).copy()).sortBy(_.getLong(0)).toVector
          val bytes = tl.bytes + add.map(_.getSizeInBytes.toLong).sum
          val chained = add.iterator.map(_.getLong(0))
            .sameElements(Iterator.range(1, add.length + 1).map(tl.upTo + _))
          val pkAt = schema.fieldIndex("pk")
          if (chained && !add.exists(_.isNullAt(pkAt)) &&
              samePayload(schema("payload").dataType, tl.payload) &&
              tl.rows.length + add.length <= rowCap && bytes <= byteCap)
            Some(tl.copy(upTo = tl.upTo + add.length, rows = tl.rows ++ add,
              bytes = bytes))
          else None
        case _ => None
      }
      next.filter(_.upTo == lastSeq(table)) match {
        case Some(tl) => known.put(table, tl)
        case None => known.remove(table)
      }
    }

  /** Payload structs equal up to nullability (catalogString omits it):
    * the tail's rows embed in a LocalRelation of the catalog's schema
    * only when they match it. */
  private def samePayload(a: DataType, b: DataType): Boolean =
    a.catalogString == b.catalogString
}

object DriverTails {
  /** Rows in `EventLog.schema` layout as UnsafeRows; immutable,
    * replaced whole. */
  final case class Tail(from: Long, upTo: Long, payload: StructType,
      rows: Vector[InternalRow], bytes: Long)
}
