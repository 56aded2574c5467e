package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import org.apache.spark.sql.types.LongType
import graft.pipeline.{CopyJob, Publish, Watermark}
import graft.pipeline.CopyJob._
import graft.sources.Tables
import graft.types.TypeMap

/** Every program symbol the `perfbench/` harness calls, called with the
  * harness's argument shapes. The tier-1 build never compiles the
  * harness, so this is what keeps a benchmark entry point from turning
  * private or changing shape unnoticed. */
class HarnessApiSpec extends SparkSpec {

  test("the copy_cycle surface: configs, run, results, Publish, Watermark, TypeMap, Tables") {
    val base = Files.createTempDirectory("harness_api")
    val url = "jdbc:derby:memory:harness_api;create=true"
    val specs = Seq(
      TableSpec("nation", FromSpec("nation"), "nation", keepVersions = 2),
      TableSpec("part", FromSpec("part"), "part", publishMode = TempSwap),
      TableSpec("customer", FromSpec("customer", columns = Some(Seq("c_custkey", "c_name"))),
        "customer_slim", keepVersions = 2),
      TableSpec("q", FromSpec("q", query = Some("SELECT r_name FROM region")), "q",
        keepVersions = 2))
    assert(TableSpec("region", FromSpec("region"), "region", publishMode = JdbcLoad(url))
      .publishMode == JdbcLoad(url, 10000))
    val cfg = JobConfig(
      tables = specs, sourceDir = sf(),
      stagingRoot = s"$base/staging", targetRoot = s"$base/target",
      stateDir = s"$base/state", trigger = Some(TriggerSpec("events", "ts")))
    assert(CopyJob.run(spark, cfg) == Copied)
    assert(CopyJob.run(spark, cfg) == NoNewData)

    val target = cfg.targetRoot
    val cur = Publish.currentVersion(target, "nation").get
    assert(Publish.listVersions(target, "nation").sorted == Seq(cur))
    assert(Publish.findNewestVersion(target, "nation").contains(cur))
    assert(Files.isDirectory(Paths.get(Publish.snapshotDir(target, "nation", cur))))
    assert(Publish.readCurrent(spark, target, "nation").count() == 25)
    assert(Publish.versionStamp(LocalDateTime.of(2024, 1, 2, 3, 4, 5)) == "2024_01_02_03_04_05")
    val state = Files.list(Paths.get(cfg.stateDir)).iterator.next()
    assert(Watermark.readState(state).map(_.value.render).exists(_.nonEmpty))

    assert(TypeMap.sparkToMonetDdlType(LongType) == "bigint")
    assert(Tables.names.size == 10)
    assert(Tables(spark, sf(), "nation").schema.nonEmpty)
  }

  test("the query_mix surface: SparkEntry, the five modules, Skew, Dedup, Verify") {
    type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame
    val modules: Seq[Map[String, Q]] = Seq(
      graft.ops.Relational.queries, graft.ops.Extended.queries,
      graft.text.TextAnalysis.queries, graft.dedup.Dedup.queries,
      graft.sim.Similarity.queries, graft.mm.Multimodal.queries)
    val all: Map[String, Q] = SparkEntry.queries
    modules.foreach(m => assert(m.keySet.subsetOf(all.keySet)))
    assert(all.keySet.exists(SparkEntry.oracleSql.get(_).isDefined))
    assert(all("q04_agg_pricing_summary")(spark, sf()).columns.nonEmpty)
    assert(graft.ops.Skew.suggestedShufflePartitions(6000L, avgRowBytes = 128L, cores = 4) >= 1)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(8)
    assert(graft.dedup.Dedup.simHashNearDups(docs, "text", "doc_id").columns.nonEmpty)
    assert(graft.dedup.Dedup.minHashSignatures(docs, "text", "doc_id").columns.nonEmpty)
    assert(Verify.jsonEscape("a\"b") == "\"a\\\"b\"")
  }
}
