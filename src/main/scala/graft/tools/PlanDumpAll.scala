package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev utility: write the formatted physical plan of one or more named
  * queries to files, in one JVM. Usage: PlanDumpAll <outDir> <suffix>
  * <query...> — writes `<outDir>/<query>_<suffix>.txt`; the corpus is
  * `SPARK_GRAFT_SF_DIR` (default sf0.001). */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDumpAll <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(2).foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"${q}_$suffix.txt"), plan.getBytes(UTF_8))
      System.err.println(s"[plandump] wrote ${q}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
