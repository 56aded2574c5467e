package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Generates PLANS.md: one row of physical-plan metrics per query —
  * shuffle exchanges, broadcast joins, whole-stage-codegen spans, and
  * whether the scan got pushed filters / a pruned schema. Plans are
  * BUILT, not executed (plan shape is data-size-independent), so the
  * whole suite reports in seconds.
  *
  * This is the scale audit in table form: a query whose shuffle count
  * grows, whose broadcast disappears, or whose filters stop reaching
  * the scan changes a number here and shows up in review.
  *
  * Usage: `PlanReport [out.md]` writes the table (default `PLANS.md`);
  * `PlanReport --dump <outDir> <suffix> <query...>` instead writes each
  * named query's formatted physical plan to `<outDir>/<query>_<suffix>.txt`
  * (the before/after plan pairs under `plans/`). The corpus is
  * `SPARK_GRAFT_SF_DIR` (default sf0.001).
  */
object PlanReport {

  /** One query's physical-plan scale metrics. */
  final case class PlanMetrics(shuffles: Int, broadcasts: Int,
      pushedFilters: Boolean, prunedSchema: Boolean)

  /** Extract the metrics from an executed-plan string — shared by the
    * PLANS.md generator and PlanDriftSpec, so the committed table and
    * the CI guard can never disagree about what's being measured.
    *
    * `leafPlans` (r11) are the checkpoint-leaf BUILD plans the query
    * materialized during construction
    * ([[graft.plans.LeafPlanRegistry]]): for queries whose parquet scan
    * lives inside a leaf build, the pushdown evidence lives there too —
    * pushed filters / pruned schema are asserted over the main plan OR
    * any leaf, instead of asserted away as "—". Shuffle/broadcast
    * counts stay MAIN-plan-only: leaf builds run once as their own
    * jobs, and folding their exchanges into the final plan's count
    * would double-state the committed history. */
  def metrics(plan: String, leafPlans: Seq[String] = Nil): PlanMetrics = {
    val scanCarriers = plan +: leafPlans
    PlanMetrics(
      shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length +
        "Exchange rangepartitioning".r.findAllIn(plan).length,
      broadcasts = "BroadcastExchange".r.findAllIn(plan).length,
      pushedFilters = scanCarriers.exists(p =>
        "PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined),
      prunedSchema = scanCarriers.exists(p =>
        "ReadSchema: struct<[^>]*>".r.findFirstIn(p)
          .exists(s => s.count(_ == ',') + 1 < 12)))
  }

  def main(args: Array[String]): Unit = {
    val dump = args.headOption.contains("--dump")
    require(!dump || args.length >= 4,
      "usage: PlanReport --dump <outDir> <suffix> <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (dump) dumpPlans(spark, sfDir, Paths.get(args(1)), args(2), args.drop(3).toSeq)
    else writeReport(spark, sfDir, args.headOption.getOrElse("PLANS.md"))
    spark.stop()
  }

  /** One file per query: its formatted physical plan. */
  private def dumpPlans(spark: SparkSession, sfDir: String, outDir: java.nio.file.Path,
      suffix: String, queries: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    queries.foreach { q =>
      val plan = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"${q}_$suffix.txt"), plan.getBytes(UTF_8))
      System.err.println(s"[plandump] wrote ${q}_$suffix.txt (${plan.length} chars)")
    }
  }

  private def writeReport(spark: SparkSession, sfDir: String, out: String): Unit = {
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        graft.plans.LeafPlanRegistry.drain() // discard a prior query's leaves
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val m = metrics(plan, graft.plans.LeafPlanRegistry.drain())
        s"| $name | ${m.shuffles} | ${m.broadcasts} | " +
          s"${if (m.pushedFilters) "yes" else "—"} | " +
          s"${if (m.prunedSchema) "yes" else "—"} |"
      } catch {
        case NonFatal(e) => s"| $name | — | — | err | ${e.getClass.getSimpleName} |"
      }
    }

    val header =
      s"""# PLANS — physical-plan metrics per query (auto-generated by `graft.tools.PlanReport`)
         |
         |Plan shape at ${sfDir.split('/').last} (shape is size-independent; regenerate with
         |`sbt "runMain graft.tools.PlanReport"`). Columns: shuffle exchanges
         |(hash + range partitioning), broadcast exchanges, any non-empty
         |pushed scan filters, pruned read schema (fewer than 12 columns).
         |Connected components (q101 and the queries composed on it) label
         |a graph of at most 64k edge rows on the driver, so here they
         |report the plan over that local result; the distributed loop's
         |per-round shuffles are described in the operator Scaladoc. Queries
         |that materialize a shared subtree as a checkpoint leaf (q126: the
         |tf-idf weight table; q149: the hashed embedding table; q150: the
         |per-source token counts; q153: the sized pair table; the wide
         |simhash family) have their leaf BUILD plans recorded
         |(LeafPlanRegistry, r11) and their pushed-filters/pruned-schema
         |columns asserted over main-plan-OR-leaf — the scan inside the
         |leaf build is audited, not asserted away. Shuffle/broadcast
         |counts remain final-plan-only (leaf builds run once as their
         |own jobs). A remaining "—" under pushed filters means the
         |query genuinely scans without a pushable predicate (q150's
         |whole-corpus drift scan), not that the scan is unaudited.
         |
         || query | shuffles | broadcasts | pushed filters | pruned schema |
         ||---|---|---|---|---|""".stripMargin
    val doc = header + "\n" + rows.mkString("\n") + "\n"
    Files.write(Paths.get(out), doc.getBytes(UTF_8))
    println(s"[plan-report] wrote ${rows.length} rows to $out")
  }
}
