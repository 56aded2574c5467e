package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (`tools/compare.py`).
  *
  * `Verify <sfDir> <outDir> [prefixes]` — the optional third argument is
  * a comma-separated list of query-name prefixes (`q113,q114` finds
  * `q113_interval_bin_join`), the fast inner loop when adding one
  * operator. Without it every query is dumped (the full correctness gate). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, prefixes) = args match {
      case Array(sf, out) => (sf, out, Seq.empty[String])
      case Array(sf, out, names) => (sf, out, names.split(",").toSeq)
      case _ => sys.error("usage: graft.Verify <sfDir> <outDir> [prefix,prefix,...]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, prefixes)
    spark.stop()
  }

  /** Dump every query whose name starts with one of `prefixes` (all of
    * them when `prefixes` is empty) under `outDir/<name>`, and the
    * matching oracle SQL as `outDir/oracle_sql.json`. One broken query
    * is logged and the rest still dump. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      prefixes: Seq[String]): Unit = {
    def wanted(name: String) = prefixes.isEmpty || prefixes.exists(name.startsWith)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => wanted(n) }.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(SparkEntry.oracleSql.filter { case (n, _) => wanted(n) },
      s"$outDir/oracle_sql.json")
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * perfbench's harness renders its run JSON with it too. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump an oracle-SQL map as the JSON file the compare tool reads. */
  private def writeOracleJson(oracle: Map[String, String], file: String): Unit =
    Files.writeString(Paths.get(file), oracle
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}"))
}
