package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, FloatType}

/** Bridge into `private[sql]` Spark internals needed to expose custom
  * Catalyst expressions as user-facing `Column`s (the same door Spark's
  * own `functions` object uses). Kept to the minimum surface. */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Input-type spec for ExpectsInputTypes implementations. */
  val floatArrayType: AbstractDataType = ArrayType(FloatType)
  /** Wrap a custom LogicalPlan as a DataFrame (Dataset.ofRows's door). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  /** The class of a `Row` value of type `t` (boxed, as `Row.get` returns it). */
  def externalClass(t: org.apache.spark.sql.types.DataType): Class[_] =
    org.apache.commons.lang3.ClassUtils.primitiveToWrapper(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderForDataType(t, lenient = true)
        .clsTag.runtimeClass)
  /** Analyzed plan of a DataFrame (for building composite plans). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Rebuild a checkpointed DataFrame's `LogicalRDD` leaf WITHOUT its
    * captured `originStats`/`originConstraints` — the chain breaker for
    * iterative algorithms. `Dataset.checkpoint`/`localCheckpoint`
    * unconditionally copy `optimizedPlan.stats` into the leaf
    * ([[org.apache.spark.sql.execution.LogicalRDD]].fromDataset), and
    * the default size-only estimator MULTIPLIES child `sizeInBytes`
    * across joins — so checkpoint-of-a-plan-over-checkpoints compounds
    * the stat VALUE every generation. The BigInt's bit-length then
    * grows geometrically and the driver ends up in
    * `BigInteger.multiplyToomCook3` during plain plan construction
    * (measured: 25 s of stats arithmetic in one 30k-row generation by
    * round 11 of a connected-components loop). Dropping the origin
    * stats resets the leaf to `defaultSizeInBytes`, which is the right
    * call anyway — these leaves feed AQE-replanned joins that use
    * MEASURED shuffle sizes at runtime, not static estimates. The RDD
    * (and its truncated lineage) is reused as-is; no data moves. */
  def dropOriginStats(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ofRows(df.sparkSession, new org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
      case _ => df
    }

  /** Release the persisted blocks behind a checkpointed DataFrame's
    * `LogicalRDD` leaf (the storage `Dataset.localCheckpoint` registers).
    * Callers must have materialized everything derived from the leaf
    * FIRST — checkpoint lineage is truncated, so any recompute after
    * release fails by design. No-op on non-checkpoint plans. */
  def unpersistLeaf(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Introspection of a SparkSessionExtensions instance (test support for
    * the declarative `spark.sql.extensions` install path). */
  def builtStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)
  def builtOptimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
  def registeredFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)
}
