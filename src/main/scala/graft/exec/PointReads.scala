package graft.exec

import graft.state.{Snapshots, StateView}
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
  * lookup over a snapshot or the event log into rows decoded on the
  * driver, so PK SELECT, AS OF at any sequence, INSERT's collision
  * probe and the matched batch of UPDATE/DELETE by pk run no Spark job
  * (the reference answers them from state it holds —
  * `reconstruct_state_at`, SURVEY §1.1).
  *
  * Leaves: it matches `Filter(cond, relation)` where the relation is a
  * scan tagged with its table's pk field (`Snapshots.PkOption`: the
  * snapshot read and the log read) and `cond` has a conjunct
  * `payload.<pk> = literal` or `payload.<pk> IN (literals)` — the shape
  * the state plans take once Catalyst pushed a pk predicate through
  * `StateView.overTail`'s flat plan, or below the keyed collapse's
  * windows. `GraftBridge.readLocalParquet` reads the row groups that can
  * hold rows matching `cond` on the driver and the relation becomes a
  * LocalRelation of them; when the candidate row groups are over its
  * byte budget, or the read fails, the scan stays and loses its tag, so
  * the optimizer's next pass does not try it again.
  *
  * Collapses: a keyed collapse (`StateView.KeyedCollapse`) whose every
  * leaf is such a tagged scan — the log alone, or a snapshot and the
  * log slice after it — has its leaves read the same way. When they
  * all fold to one LocalRelation of candidate events (snapshot rows are
  * INSERTs older than the slice), `StateView.foldCollapse` folds them
  * with the fold `overTail` uses and the windows, the exchange and
  * their jobs go away. This rule codes no event semantics itself. Any
  * other shape keeps the windowed plan over whatever leaves were read:
  * a leaf that is not a tagged scan (a transaction's buffered events),
  * a read over budget or one that throws, and an ordered collapse (a
  * read whose row order becomes event order) that folds to more than
  * one row.
  *
  * A plan the rule changed is then folded with ConvertToLocalRelation
  * and PropagateEmptyRelation (the built-in LocalRelation batch runs
  * before user rules) plus a fold of a Union of LocalRelations, so the
  * filter, the driver-tail fold and the union above collapse into one
  * LocalRelation. A plan without a tagged relation pays one walk.
  *
  * Each leaf read, and each collapse with its leaf reads, records a
  * `point-read` span (files, row groups kept/total, candidate bytes,
  * rows decoded; a folded collapse adds the events it folded) when a
  * statement trace is live on the planning thread. */
object PointReads extends Rule[LogicalPlan] with PredicateHelper {

  /** Add the rule to the session's optimizer once; a second engine on
    * the same session finds it there. */
  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(this))
      ex.extraOptimizations = ex.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    var changed = false
    val out = plan.transformDown {
      case StateView.KeyedCollapse(c) if c.input.exists(Leaf.unapply(_).isDefined) =>
        changed = true
        traced(collapse(c))(_._2)._1
      case p @ Leaf(r) =>
        changed = true
        traced(serve(p, r))(r => detail(Seq(r._2)))._1
    }
    if (changed) Fold.execute(out) else plan
  }

  /** A tagged scan: its HadoopFsRelation and pk payload field. */
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

  /** Whether some conjunct of `cond` pins the pk to literal keys. */
  private def hasKey(cond: Expression, pk: String): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(PayloadField(f), Literal(v, _)) => f == pk && v != null
      case EqualTo(Literal(v, _), PayloadField(f)) => f == pk && v != null
      case In(PayloadField(f), list) =>
        f == pk && list.nonEmpty && list.forall(_.isInstanceOf[Literal])
      case InSet(PayloadField(f), set) => f == pk && set.nonEmpty
      case _ => false
    }

  /** A pk-keyed filter over a tagged scan — the node a leaf read
    * serves — with the scan's columns it must keep. */
  private final case class LeafRead(cond: Expression, rel: LogicalRelation,
      fs: HadoopFsRelation, needed: AttributeSet)

  private object Leaf {
    def unapply(p: LogicalPlan): Option[LeafRead] = p match {
      case Project(list, Filter(cond, rel @ Tagged(fs, pk))) if hasKey(cond, pk) =>
        Some(LeafRead(cond, rel, fs,
          AttributeSet(list.flatMap(_.references)) ++ cond.references))
      case Filter(cond, rel @ Tagged(fs, pk)) if hasKey(cond, pk) =>
        Some(LeafRead(cond, rel, fs, rel.outputSet))
      case _ => None
    }
  }

  /** `p` with its scan replaced by a LocalRelation of the row groups
    * that can hold rows matching its filter, and the read (None when it
    * threw). A read over budget or one that threw leaves the scan,
    * untagged: a read the driver cannot do (an unreadable key, a
    * vanished file) raises its own error in the scan if it fails. */
  private def serve(p: LogicalPlan, r: LeafRead)
      : (LogicalPlan, Option[GraftBridge.LocalRead]) = {
    val out = r.rel.output.filter(r.needed.contains)
    val read =
      try Some(GraftBridge.readLocalParquet(r.fs.sparkSession, r.fs,
        DataTypeUtils.fromAttributes(out), splitConjunctivePredicates(r.cond)))
      catch { case NonFatal(_) => None }
    val leaf = read.flatMap(_.rows) match {
      case Some(rows) => LocalRelation(out, rows)
      case None => r.rel.copy(relation = r.fs.copy(options =
        r.fs.options.filterNot(_._1.equalsIgnoreCase(Snapshots.PkOption)))(r.fs.sparkSession))
    }
    (p.transformUp { case l: LogicalRelation if l eq r.rel => leaf }, read)
  }

  /** `c` with its leaves read on the driver, and folded away into one
    * LocalRelation when every leaf was a tagged scan the driver read and
    * `StateView.foldCollapse` applies; otherwise the windowed plan over
    * the leaves as read. With it, the span detail: the reads, then the
    * number of events folded or that the window stayed. */
  private def collapse(c: StateView.Collapse): (LogicalPlan, String) = {
    val allTagged = c.input.collectLeaves().forall {
      case Tagged(_, _) => true
      case _ => false
    }
    val reads = Seq.newBuilder[Option[GraftBridge.LocalRead]]
    val in = Fold.execute(c.input.transformDown {
      case p @ Leaf(r) => val (q, read) = serve(p, r); reads += read; q
    })
    val folded = in match {
      case lr: LocalRelation if allTagged =>
        StateView.foldCollapse(c, lr).map((_, lr.data.length))
      case _ => None
    }
    (folded.fold(c.withInput(in))(_._1),
      detail(reads.result()) + folded.fold(" window kept")(f => s" events=${f._2}"))
  }

  /** `body` under a `point-read` span when a statement trace is live on
    * this thread. */
  private def traced[T](body: => T)(detail: T => String): T =
    Tracer.current.fold(body)(_.spanOf("point-read")(body)(detail))

  /** Span detail of leaf reads: files, row groups kept/total and
    * candidate bytes summed, then the rows decoded — or why a scan
    * stayed. */
  private def detail(reads: Seq[Option[GraftBridge.LocalRead]]): String = {
    val ok = reads.flatten
    s"files=${ok.map(_.files).sum} row_groups=${ok.map(_.kept).sum}/" +
      s"${ok.map(_.total).sum} bytes=${ok.map(_.bytes).sum} " +
      (if (reads.exists(_.isEmpty)) "read failed: scan kept"
       else if (ok.exists(_.rows.isEmpty)) "over budget: scan kept"
       else s"rows=${ok.flatMap(_.rows).map(_.length).sum}")
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
