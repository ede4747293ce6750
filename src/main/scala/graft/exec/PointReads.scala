package graft.exec

import graft.state.Snapshots
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UpdateAttributeNullability
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, EqualTo, Expression, GetStructField, In, InSet, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, PropagateEmptyRelation}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.{Rule, RuleExecutor}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import scala.util.control.NonFatal

/** Point reads served on the driver: the optimizer rule that turns a pk
  * lookup over a snapshot into a LocalRelation, so PK SELECT, AS OF
  * above the newest snapshot, INSERT's collision probe and the matched
  * batch of UPDATE/DELETE by pk run no Spark job (the reference answers
  * them from state it holds — `reconstruct_state_at`, SURVEY §1.1).
  *
  * It matches `Filter(cond, relation)` where the relation is a snapshot
  * scan tagged with its pk field (`Snapshots.PkOption`) and `cond` has a
  * conjunct `payload.<pk> = literal` or `payload.<pk> IN (literals)` —
  * the shape the state plans take once Catalyst pushed a pk predicate
  * through `StateView.overTail`'s flat plan, or below the keyed
  * collapse's window. `GraftBridge.readLocalParquet` reads the row
  * groups that can hold those keys on the driver and the relation
  * becomes a LocalRelation of them; when the candidate row groups are
  * over its byte budget, or the read fails, the scan stays. A plan the
  * rule changed is then folded with ConvertToLocalRelation and
  * PropagateEmptyRelation (the built-in LocalRelation batch runs before
  * user rules) plus a fold of a Union of LocalRelations, so the filter,
  * the driver-tail fold and the union above collapse into one
  * LocalRelation. A plan without a tagged relation pays one walk.
  *
  * Each driver read records a `point-read` span (files, row groups
  * kept/total, candidate bytes, rows decoded) when a statement trace is
  * live on the planning thread. */
object PointReads extends Rule[LogicalPlan] with PredicateHelper {

  /** Add the rule to the session's optimizer once; a second engine on
    * the same session finds it there. */
  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(this))
      ex.extraOptimizations = ex.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    var served = false
    val out = plan.transformDown {
      case p @ Project(list, Filter(cond, rel @ Tagged(fs, pk))) =>
        val needed = AttributeSet(list.flatMap(_.references)) ++ cond.references
        driverRows(cond, rel, fs, pk, needed).fold(p: LogicalPlan) { lr =>
          served = true
          Project(list, Filter(cond, lr))
        }
      case f @ Filter(cond, rel @ Tagged(fs, pk)) =>
        driverRows(cond, rel, fs, pk, rel.outputSet).fold(f: LogicalPlan) { lr =>
          served = true
          Filter(cond, lr)
        }
    }
    if (served) Fold.execute(out) else plan
  }

  /** A snapshot scan tagged with its pk payload field. */
  private object Tagged {
    def unapply(rel: LogicalRelation): Option[(HadoopFsRelation, String)] =
      rel.relation match {
        case fs: HadoopFsRelation => fs.options.collectFirst {
          case (k, v) if k.equalsIgnoreCase(Snapshots.PkOption) => (fs, v)
        }
        case _ => None
      }
  }

  /** The pk payload field an expression reads, if it is one. */
  private object PayloadField {
    def unapply(e: Expression): Option[String] = e match {
      case g @ GetStructField(a: AttributeReference, _, _) if a.name == "payload" =>
        Some(g.extractFieldName)
      case _ => None
    }
  }

  /** The first conjunct of `cond` that pins the pk to literal keys. */
  private def keyConjunct(cond: Expression, pk: String): Option[Expression] =
    splitConjunctivePredicates(cond).find {
      case EqualTo(PayloadField(f), Literal(v, _)) => f == pk && v != null
      case EqualTo(Literal(v, _), PayloadField(f)) => f == pk && v != null
      case In(PayloadField(f), list) =>
        f == pk && list.nonEmpty && list.forall(_.isInstanceOf[Literal])
      case InSet(PayloadField(f), set) => f == pk && set.nonEmpty
      case _ => false
    }

  /** The LocalRelation that replaces `rel` under `cond`: the `needed`
    * columns of the row groups that can hold `cond`'s pk keys. */
  private def driverRows(cond: Expression, rel: LogicalRelation,
      fs: HadoopFsRelation, pk: String, needed: AttributeSet): Option[LocalRelation] =
    keyConjunct(cond, pk).flatMap { key =>
      val out = rel.output.filter(needed.contains)
      def run() = GraftBridge.readLocalParquet(fs.sparkSession, fs,
        DataTypeUtils.fromAttributes(out), key, splitConjunctivePredicates(cond))
      val read =
        try Some(Tracer.current.fold(run())(_.spanOf("point-read")(run())(r =>
          s"files=${r.files} row_groups=${r.kept}/${r.total} bytes=${r.bytes} " +
            r.rows.fold("over budget: scan kept")(rs => s"rows=${rs.length}"))))
        // a read the driver cannot do (an unreadable key, a vanished
        // file) leaves the scan, which raises its own error if it fails
        catch { case NonFatal(_) => None }
      read.flatMap(_.rows).map(LocalRelation(out, _))
    }

  /** The folds that finish what the rule started. */
  private object Fold extends RuleExecutor[LogicalPlan] {
    override protected def batches: Seq[Batch] = Seq(
      Batch("point-read fold", FixedPoint(100), ConvertToLocalRelation,
        PropagateEmptyRelation, UnionOfLocals, UpdateAttributeNullability))
  }

  /** A Union whose children are all LocalRelations is one LocalRelation
    * (a pk IN list with keys on both sides of the driver-tail union). */
  private object UnionOfLocals extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case u @ Union(children, false, false)
          if children.forall(_.isInstanceOf[LocalRelation]) && !u.isStreaming =>
        LocalRelation(u.output, children.flatMap(_.asInstanceOf[LocalRelation].data))
    }
  }
}
