package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Shared plumbing for the dev-tool mains (NOT library surface). */
object ToolWork {

  /** A pid-scoped scratch dir under the working directory, removed on
    * JVM exit — two concurrent tool JVMs must never share temp paths
    * (the r12c soak lesson: one JVM overwrote the other's index cells
    * mid-search). One definition so the deletion logic cannot drift
    * between tools. */
  def pidScopedDir(name: String): String = {
    val dir = s"${sys.props.getOrElse("user.dir", ".")}/$name/" +
      java.lang.ProcessHandle.current().pid()
    graft.FsUtil.deleteOnExit(dir)
    dir
  }

  /** Collected ANN rows → a local (query_id, neighbor_id) relation —
    * the shape [[graft.sim.Similarity.recallAtK]] consumes. Positions
    * follow the ANN output contract (0 = query_id, 2 = neighbor_id). */
  def idPairs(spark: SparkSession, rows: Array[Row]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        Row(r.getLong(0), r.getLong(2))): _*),
      StructType(Seq(StructField("query_id", LongType),
        StructField("neighbor_id", LongType))))

  /** Macro-averaged recall@k of `approx` against `exact` (0.0 when the
    * join is empty) — the per-query-mean the vec benches report. */
  def meanRecall(approx: DataFrame, exact: DataFrame): Double = {
    val r = graft.sim.Similarity.recallAtK(approx, exact)
      .agg(avg(col("recall_at_k"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}
