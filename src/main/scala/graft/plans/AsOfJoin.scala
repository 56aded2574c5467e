package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator Catalyst path (logical node +
  * planner strategy + physical sort-merge operator).
  *
  * Semantics: for every left row, the LATEST right row with equal keys
  * and `right.time < left.time` (strict; `<=` when `strict = false`) —
  * the classic "previous reading" join of event/tick pipelines. The
  * composition form ([[graft.ops.Extended.asofJoin]], union + window)
  * expresses the same thing in two passes over a unioned table; this
  * operator does ONE forward merge of the two sorted sides:
  *
  *  - `requiredChildDistribution` = ClusteredDistribution(keys) on both
  *    sides — EnsureRequirements co-partitions the children (one shuffle
  *    each, exactly like a sort-merge join, AQE-resizable);
  *  - `requiredChildOrdering` = (keys, time) ascending — Spark inserts
  *    the sorts, or elides them when the child is already sorted
  *    (e.g. a bucketed+sorted table: zero-shuffle as-of join);
  *  - per partition, a single O(|L|+|R|) merge with ONE buffered right
  *    row — no per-key right-side buffering, so memory is O(1) per
  *    partition regardless of key skew (the union+window form must
  *    window-sort the combined table instead).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute, strict: Boolean)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: push deterministic left-side predicates BELOW the
  * as-of join. Safe because the operator is left-outer shaped — every
  * left row produces exactly one output row independent of the others,
  * so filtering left rows before the join equals filtering after.
  * (Right-side predicates must NOT push: removing right rows changes
  * which row is "latest".) Catalyst's built-in PushDownPredicates skips
  * unknown nodes, so without this rule a time-range filter above an
  * as-of join would scan both sides in full. */
object AsOfJoinFilterPushdown
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
  with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (pushable, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(And), j.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]; inject via
  * `GraftExtensions` or `spark.experimental.extraStrategies`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, strict) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, strict) :: Nil
    case _ => Nil
  }

  /** Idempotent runtime registration on a live session (the
    * `spark.sql.extensions` path isn't available post-construction).
    * Installs both the planner strategy and the filter-pushdown rule,
    * under the lock every graft registration on the session takes. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(this))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ this
      if (!spark.experimental.extraOptimizations.contains(AsOfJoinFilterPushdown))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ AsOfJoinFilterPushdown
    }
}

/** Physical sort-merge as-of join.
  *
  * Skew note: all rows of one key land in one partition (inherent to any
  * keyed merge join — same as SortMergeJoin). Unlike per-key buffering
  * joins, the merge holds ONE right row regardless of key size, so a hot
  * key costs wall-clock on its partition but never memory; AQE's skew
  * handling cannot split it (the merge needs the key's full time range
  * in order), so extremely hot keys should pre-split upstream by a time
  * coarse bucket if needed. */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute, strict: Boolean)
  extends BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched left rows"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val strictLocal = strict
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeExpr.dataType))
      // bind against NULLABLE right attrs: unmatched left rows carry a
      // null right half, and a non-nullable binding would skip the null
      // check and read zeros instead
      val resultProj = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val joiner = new JoinedRow
      val rightNull = new GenericInternalRow(rOut.length)

      // single-row lookahead over the sorted right side
      var rRow: InternalRow = null
      var rKey: UnsafeRow = null
      var rTime: UnsafeRow = null
      def readRight(): Unit =
        if (rIter.hasNext) {
          rRow = rIter.next().copy()
          rKey = rKeyProj(rRow).copy()
          rTime = rTimeProj(rRow).copy()
        } else rRow = null
      readRight()

      // latest right row already passed whose key may still match
      var matched: InternalRow = null
      var matchedKey: UnsafeRow = null

      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lTime = lTimeProj(l)
        var advance = rRow != null
        while (advance) {
          val c = keyOrd.compare(rKey, lKey)
          val tc = if (c == 0) timeOrd.compare(rTime, lTime) else 0
          if (c < 0 || (c == 0 && (if (strictLocal) tc < 0 else tc <= 0))) {
            if (c == 0) { matched = rRow; matchedKey = rKey }
            else { matched = null; matchedKey = null }
            readRight()
            advance = rRow != null
          } else advance = false
        }
        val m =
          if (matched != null && keyOrd.compare(matchedKey, lKey) == 0) matched
          else null
        numOutputRows += 1
        if (m != null) numMatched += 1
        resultProj(if (m == null) joiner(l, rightNull) else joiner(l, m))
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
