package graft.plans

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, InterpretedOrdering, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count,
  Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Sort,
  Union}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sources.ParquetMeta

/** Optimizer rule: answer a metadata-only aggregate from parquet footers
  * (Dremel's answer-from-metadata), so it runs no Spark job.
  *
  * A global `Aggregate` (no grouping keys) over projections of one
  * non-partitioned, non-bucketed parquet relation ([[ParquetMeta.relation]],
  * each projection a bare column or a cast to its own type) becomes a
  * one-row `LocalRelation` when every aggregate is one footers answer
  * exactly, neither DISTINCT (min/max excepted) nor FILTERed:
  *
  *  - `count(*)`, `count(<non-null literal>)`: the row groups' row counts;
  *  - `count(col)`: rows less nulls, where every chunk sets its null count;
  *  - `min(col)`, `max(col)`: the row-group statistics, as
  *    [[ParquetMeta.stats]] trusts them;
  *
  * and every output expression folds to a constant once the aggregates
  * are literals. The footers are those of the files the scan would read
  * ([[ParquetMeta.scanned]]), at most [[ParquetMeta.MaxFiles]] of them. In
  * any other case, a footer that cannot be read included, the plan is
  * left to the scan, which fails as it would have.
  *
  * Where it answered, the rule also folds a `Union` of local relations
  * and a global `Sort` of one, so a report of several such counts
  * (q34) runs no job either.
  */
object FooterAggregates extends Rule[LogicalPlan] {

  /** Idempotent runtime registration on a live session, called by every
    * [[ParquetMeta.read]], so from many threads at once: under the lock
    * [[AsOfJoinStrategy.ensureRegistered]] takes too. `GraftExtensions`
    * covers builder-time installs. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val x = spark.experimental
    if (!x.extraOptimizations.contains(this)) x.synchronized {
      if (!x.extraOptimizations.contains(this)) x.extraOptimizations = x.extraOptimizations :+ this
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val answered = plan.transformUp {
      case a: Aggregate if a.groupingExpressions.isEmpty => answer(a).getOrElse(a)
    }
    if (answered eq plan) plan
    else answered.transformUp {
      case u @ Union(children, false, false) if children.forall(isLocal) =>
        LocalRelation(u.output, children.flatMap(_.asInstanceOf[LocalRelation].data))
      case s: Sort if s.global && isLocal(s.child) && s.order.forall(_.deterministic) =>
        val l = s.child.asInstanceOf[LocalRelation]
        try LocalRelation(l.output, l.data.sorted(new InterpretedOrdering(s.order, l.output)))
        catch { case NonFatal(_) => s }
    }
  }

  private def isLocal(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }

  /** `a` as a one-row local relation, if the footers answer it. */
  private def answer(a: Aggregate): Option[LogicalPlan] = ParquetMeta.relation(a.child).flatMap { fs =>
    lazy val footers = Some(ParquetMeta.scanned(fs)).filter(_.size <= ParquetMeta.MaxFiles)
      .flatMap(files => try Some(ParquetMeta.footers(fs, files).map(_._2)) catch { case NonFatal(_) => None })
    def stats(e: Expression) = for {
      attr <- ParquetMeta.column(a.child, e)
      read <- footers
      s <- ParquetMeta.stats(read, attr.name, attr.dataType)
    } yield s
    def value(ae: AggregateExpression): Option[Any] =
      if (ae.mode != Complete || ae.filter.isDefined) None
      else ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null && !ae.isDistinct => footers.map(ParquetMeta.rows)
        case Count(Seq(e)) if !ae.isDistinct => stats(e).flatMap(s => s.nulls.map(s.rows - _))
        case Min(e) => stats(e).flatMap(_.min).map(_.orNull)
        case Max(e) => stats(e).flatMap(_.max).map(_.orNull)
        case _ => None
      }
    val aggs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
    // stops at the first aggregate footers cannot answer
    val literals = aggs.iterator.map(ae => value(ae).map(v => ae -> Literal(v, ae.dataType)))
      .takeWhile(_.isDefined).flatten.toMap
    if (aggs.isEmpty || aggs.exists(!literals.contains(_))) None
    else try {
      val row = a.aggregateExpressions.map(_.transformDown {
        case ae: AggregateExpression => literals(ae)
      }).map {
        case Alias(c, _) if c.foldable => Some(c.eval())
        case _ => None
      }
      if (row.contains(None)) None
      else Some(LocalRelation(a.output, Seq(InternalRow.fromSeq(row.flatten))))
    } catch { case NonFatal(_) => None }
  }
}
