package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions (so `spark.sql("SELECT vec_dot(a, b)")`
  * works the same as the Column API), the whole-operator planner
  * strategies and the optimizer rules. Install via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or call
  * [[GraftExtensions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinFilterPushdown)
    ext.injectOptimizerRule(_ => graft.plans.CosineJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.FooterAggregates)
  }
}

object GraftExtensions {
  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private[functions] val descriptors: Seq[Descriptor] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot takes exactly 2 arguments")
        VectorDot(children.head, children(1))
      }),
    (FunctionIdentifier("vec_lsh_key"),
      new ExpressionInfo(classOf[HyperplaneLshKey].getName, "vec_lsh_key"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "vec_lsh_key takes (vector, dim, bits)")
        HyperplaneLshKey(children.head,
          intLit(children(1), "vec_lsh_key", "dim"),
          intLit(children(2), "vec_lsh_key", "bits"))
      }),
    (FunctionIdentifier("sig_match_frac"),
      new ExpressionInfo(classOf[SigMatchFrac].getName, "sig_match_frac"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sig_match_frac takes exactly 2 arguments")
        SigMatchFrac(children.head, children(1))
      }),
    (FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_agg takes (hash, numPerm)")
        MinHashAgg(children.head,
          intLit(children(1), "minhash_agg", "numPerm"))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "simhash_agg takes (hash, bits)")
        SimHashAgg(children.head,
          intLit(children(1), "simhash_agg", "bits"))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[ZOrderKey2].getName, "zorder_key"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "zorder_key takes (x, y, bitsPerDim)")
        ZOrderKey2(children.head, children(1),
          intLit(children(2), "zorder_key", "bitsPerDim"))
      }),
    (FunctionIdentifier("count_min_agg"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "count_min_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "count_min_agg takes (hash, depth, width)")
        CountMinAgg(children.head,
          intLit(children(1), "count_min_agg", "depth"),
          intLit(children(2), "count_min_agg", "width"))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimateLong].getName, "cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "cms_estimate takes (sketch, hash, depth, width)")
        CmsEstimateLong(children.head, children(1),
          intLit(children(2), "cms_estimate", "depth"),
          intLit(children(3), "cms_estimate", "width"))
      })
  )

  /** Imperative registration for an already-built session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
