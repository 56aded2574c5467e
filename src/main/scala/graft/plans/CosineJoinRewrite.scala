package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.{HyperplaneLshKey, VectorDot}

/** Opt-in optimizer rule: rewrite a brute-force cosine-threshold theta
  * join into an LSH-bucketed equi join.
  *
  * The declarative way to write "all embedding pairs with cosine ≥ t" is
  * a cross join filtered on the similarity — O(n²) pairs, the plan
  * Catalyst gives is BroadcastNestedLoop/Cartesian. At corpus scale the
  * standard fix is random-hyperplane LSH blocking
  * ([[graft.sim.Similarity.cosineNearDupPairs]]), which users must write
  * by hand. This rule does that plan surgery in the optimizer instead:
  *
  *   Join(l, r, Inner, cos(a, b) >= t && rest)
  *     ⇒ Join(l, r, Inner, original && lshKey(a) = lshKey(b))
  *
  * The added `EqualTo` is extractable by `ExtractEquiJoinKeys`, so the
  * planner selects a shuffled hash / sort-merge join on the bucket key
  * instead of a nested-loop — each bucket only pairs within itself.
  *
  * APPROXIMATION, therefore OPT-IN: LSH blocking drops cross-bucket
  * pairs (the recall/cost trade every LSH user makes — results are a
  * subset of the exact answer). The rule only fires when BOTH confs are
  * set on the session:
  *
  *   spark.graft.cosineJoinRewrite.bits  (hyperplane count, e.g. 2)
  *   spark.graft.cosineJoinRewrite.dim   (embedding dimension, e.g. 64)
  *
  * and only on an Inner join whose condition (a) has NO existing equi
  * pair — if the user already blocks the join, nothing to do — and
  * (b) contains a conjunct of the exact canonical cosine shape
  * `vec_dot(a,b) / (sqrt(vec_dot(a,a)) * sqrt(vec_dot(b,b))) >= lit`
  * with a non-negative literal threshold (sign-bit LSH only preserves
  * high-similarity neighborhoods) and one side's vector per plan side.
  * Matching the precise shape keeps the rule from touching any
  * predicate it cannot faithfully approximate.
  */
object CosineJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val BitsConf = "spark.graft.cosineJoinRewrite.bits"
  val DimConf = "spark.graft.cosineJoinRewrite.dim"

  /** Idempotent runtime registration on a live session (mirrors
    * [[AsOfJoinStrategy.ensureRegistered]]; the `spark.sql.extensions`
    * path covers builder-time installs). */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(this))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ this
    }

  private def confInt(key: String): Int =
    try conf.getConfString(key, "0").toInt catch { case _: NumberFormatException => 0 }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bits = confInt(BitsConf)
    val dim = confInt(DimConf)
    if (bits <= 0 || dim <= 0) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if !hasEquiPair(cond, left, right) =>
        cosineVectors(cond, left, right) match {
          case Some((lVec, rVec)) =>
            val bucketEq = EqualTo(HyperplaneLshKey(lVec, dim, bits),
              HyperplaneLshKey(rVec, dim, bits))
            j.copy(condition = Some(And(cond, bucketEq)))
          case None => j
        }
    }
  }

  /** Does the condition already contain an extractable equi-join pair
    * (one side's expression each)? Then blocking exists; keep hands off.
    * Also true after this rule fires — makes the rule idempotent under
    * the optimizer's fixed-point batch. */
  private def hasEquiPair(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) => oneEach(a, b, left, right).isDefined
      case EqualNullSafe(a, b) => oneEach(a, b, left, right).isDefined
      case _ => false
    }

  /** The canonical cosine expression built by
    * [[graft.sim.Similarity.cosine]] / `vec_cosine`:
    * `Divide(dot(a,b), Multiply(Sqrt(dot(a,a)), Sqrt(dot(b,b))))`,
    * optionally inside the `coalesce(nanvl(try_divide…, 0), 0)`
    * zero-norm guard `Similarity.cosine` wraps it in (NULL/NaN only
    * arise from a zero vector, whose bucket membership is immaterial —
    * the guarded and raw predicates select the same pairs among real
    * vectors; the Divide match below is eval-mode-agnostic, so the TRY
    * division matches too). */
  private def cosineVectors(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)] =
    splitConjunctivePredicates(cond).collectFirst(Function.unlift {
      case cmp: BinaryComparison if isGeThreshold(cmp) =>
        val unwrapped = cmp.left match {
          case Coalesce(Seq(e, Literal(0.0, DoubleType))) => e
          case e => e
        }
        val inner = unwrapped match {
          case NaNvl(e, Literal(0.0, DoubleType)) => e
          case e => e
        }
        inner match {
          case Divide(VectorDot(a, b),
              Multiply(Sqrt(VectorDot(a1, a2)), Sqrt(VectorDot(b1, b2)), _), _)
              if a.semanticEquals(a1) && a.semanticEquals(a2) &&
                b.semanticEquals(b1) && b.semanticEquals(b2) =>
            oneEach(a, b, left, right)
          case _ => None
        }
      case _ => None
    })

  /** `cos >= lit` / `cos > lit` with a non-negative double literal. */
  private def isGeThreshold(cmp: BinaryComparison): Boolean = cmp match {
    case GreaterThanOrEqual(_, Literal(t: Double, DoubleType)) => t >= 0.0
    case GreaterThan(_, Literal(t: Double, DoubleType)) => t >= 0.0
    case _ => false
  }

  /** Orient (a, b) as (left-side expr, right-side expr) if each
    * references exactly one side. */
  private def oneEach(a: Expression, b: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)] =
    if (a.references.nonEmpty && b.references.nonEmpty &&
      a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
      Some((a, b))
    else if (a.references.nonEmpty && b.references.nonEmpty &&
      b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
      Some((b, a))
    else None
}
