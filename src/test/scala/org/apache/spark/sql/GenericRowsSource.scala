package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** A test source whose physical scan hands its consumer plain
  * GenericInternalRows — the shape of a driver-built RDD source.
  * Spark's own scans all convert to UnsafeRow, so a consumer's
  * non-unsafe path (a pin measuring row bytes through an
  * UnsafeProjection) needs a scan of its own to be exercised. */
object GenericRowsSource {

  private case class Scan(output: Seq[Attribute], rows: Seq[InternalRow],
      slices: Int) extends LeafNode {
    override def computeStats(): Statistics =
      Statistics(sizeInBytes = conf.defaultSizeInBytes)
  }

  private case class ScanExec(output: Seq[Attribute], rows: Seq[InternalRow],
      slices: Int) extends LeafExecNode {
    override protected def doExecute(): RDD[InternalRow] =
      sparkContext.parallelize(rows, slices)
  }

  private object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Scan(output, rows, slices) => ScanExec(output, rows, slices) :: Nil
      case _ => Nil
    }
  }

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row],
      slices: Int): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.synchronized {
      if (!s.experimental.extraStrategies.contains(Strategy))
        s.experimental.extraStrategies :+= Strategy
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
    classic.Dataset.ofRows(s, Scan(
      catalyst.types.DataTypeUtils.toAttributes(schema), internal, slices))
  }
}
