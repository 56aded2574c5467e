package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Selective correctness dump: like [[graft.Verify]] but only for the
  * named queries — the fast inner loop when adding one operator
  * (`runMain graft.tools.VerifyOne <sfDir> <outDir> q113,q114`).
  * Matches on name prefix so `q113` finds `q113_interval_bin_join`.
  * Shares Verify's escaper/dump and its per-query catch, so one broken
  * query still dumps the rest and the oracle JSON. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val wanted = names.split(",").toSeq
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries
      .filter { case (n, _) => wanted.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          println(s"[verify-one] dumped $name")
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify-one] $name failed: ${e.getMessage}")
        }
      }
    graft.Verify.writeOracleJson(
      graft.SparkEntry.oracleSql.filter { case (n, _) =>
        wanted.exists(n.startsWith)
      },
      s"$outDir/oracle_sql.json")
    spark.stop()
  }
}
