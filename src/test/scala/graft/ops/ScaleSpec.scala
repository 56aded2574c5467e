package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.SparkSpec
import graft.sources.Tables
import graft.sinks.Bucketing
import graft.pipeline.{CopyJob, Publish, Staging}

class SkewSpec extends SparkSpec {

  test("saltedAggregate equals plain aggregation (sum/count decompose)") {
    val li = Tables(spark, sf("sf0.01"), "lineitem")
    val plain = li.groupBy(col("l_returnflag").as("_key"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 6))).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(li,
      key = col("l_returnflag"), saltSource = col("l_orderkey"), salts = 8,
      partials = Seq(sum(col("l_quantity").cast(DecimalType(18, 6))).as("ps"),
        count(lit(1)).as("pn")),
      finals = Seq(sum(col("ps")).as("s"), sum(col("pn")).as("n")))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("saltedJoin equals plain join") {
    val o = Tables(spark, sf(), "orders").select("o_orderkey", "o_custkey")
    val l = Tables(spark, sf(), "lineitem").select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    val plain = l.join(o, "o_orderkey").count()
    val salted = Skew.saltedJoin(l, o, "o_orderkey", salts = 4).count()
    assert(salted == plain)
  }

  test("hotKeys surfaces the heaviest keys in order") {
    val li = Tables(spark, sf(), "lineitem")
    val hot = Skew.hotKeys(li, col("l_suppkey"), threshold = 1).collect()
    assert(hot.length > 0)
    val counts = hot.map(_.getLong(1))
    assert(counts.sameElements(counts.sorted(Ordering[Long].reverse)))
  }
}

class BucketingSpec extends SparkSpec {

  test("bucketed join of co-bucketed tables plans without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a killed prior run can leave warehouse files behind after the
    // catalog entry is gone — clear the locations too
    Seq("b_orders", "b_lineitem").foreach { t =>
      val p = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(p)) {
        def rm(x: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(x)) {
            val s = java.nio.file.Files.list(x)
            try s.forEach(rm) finally s.close()
          }
          java.nio.file.Files.deleteIfExists(x)
        }
        rm(p)
      }
    }
    Bucketing.writeBucketed(
      Tables(spark, sf(), "orders").select("o_orderkey", "o_totalprice"),
      "b_orders", "o_orderkey", 4, sortCols = Seq("o_orderkey"))
    Bucketing.writeBucketed(
      Tables(spark, sf(), "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "b_lineitem", "o_orderkey", 4, sortCols = Seq("o_orderkey"))
    // force the sort-merge path (tiny test data would otherwise
    // broadcast) to show the bucket-to-bucket join plans shuffle-free
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      assert(Bucketing.isShuffleFree(joined), joined.queryExecution.executedPlan.toString)
      assert(joined.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
      // and it is still correct
      val expected = Tables(spark, sf(), "lineitem").count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}

class ResumeSpec extends SparkSpec {
  import CopyJob._

  test("crash between phases: resumeFromStaging loads without re-extract") {
    val base = Files.createTempDirectory("resume")
    val cfg = JobConfig(
      Seq(TableSpec("nation", FromSpec("nation"), "nation_out")),
      sf(), s"$base/staging", s"$base/target", s"$base/state")
    // simulate phase 1 completing then a crash: stage manually, no load
    Staging.stage(Tables(spark, sf(), "nation"),
      s"$base/staging/table_nation_nation_out")
    assert(Publish.currentVersion(cfg.targetRoot, "nation_out").isEmpty)
    // resume: phases 2-4 run from the durable staging
    val r = CopyJob.run(spark, cfg.copy(resumeFromStaging = true))
    assert(r == Copied)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "nation_out").count() == 25)
  }

  // the fleet loop is Main.run's: one -c config per job
  test("runAll keeps going past a failing job and reports per-job results (H4)") {
    val base = Files.createTempDirectory("fleet")
    def cfg(name: String, query: String): String = {
      val p = base.resolve(s"$name.properties")
      Files.writeString(p,
        s"""graft.source.dir = ${sf()}
           |graft.target.dir = $base/target
           |graft.staging.dir = $base/staging_$name
           |graft.state.dir = $base/state
           |table.$name.from.query = $query
           |table.$name.from.countquery = SELECT count(*) FROM ($query)
           |table.$name.to = ${name}_out
           |""".stripMargin)
      p.toString
    }
    val configs = Seq(
      cfg("good1", "SELECT * FROM nation"),
      cfg("bad", "SELECT * FROM nation WHERE n_nationkey < 0"), // empty → guard fails
      cfg("good2", "SELECT * FROM region"))
    val logged = Vector.newBuilder[String]
    val code = graft.Main.run(configs.flatMap(c => Seq("-c", c)).toArray, spark,
      logged += _)
    assert(code == 1)
    assert(logged.result().filter(_.startsWith("[")) == Seq(
      s"[${configs(0)}] Copied (exit 0)",
      s"[${configs(1)}] Failed (exit 1)",
      s"[${configs(2)}] Copied (exit 0)"))
    assert(Publish.readCurrent(spark, s"$base/target", "good2_out").count() == 5)
  }

  test("runWithAlert fires the hook only on failure (H5)") {
    val base = Files.createTempDirectory("alert")
    var alerts = List.empty[String]
    val bad = JobConfig(
      Seq(TableSpec("b", FromSpec("b",
        query = Some("SELECT * FROM nation WHERE n_nationkey < 0")), "b_out")),
      sf(), s"$base/staging", s"$base/target", s"$base/state")
    CopyJob.runWithAlert(spark, bad)(f => alerts ::= f.reason)
    assert(alerts.length == 1 && alerts.head.contains("empty source"))
    val good = bad.copy(tables = Seq(TableSpec("g", FromSpec("nation"), "g_out")))
    CopyJob.runWithAlert(spark, good)(f => alerts ::= f.reason)
    assert(alerts.length == 1) // no new alert on success
  }

  test("resume with corrupt staging fails cleanly (F3)") {
    val base = Files.createTempDirectory("resume2")
    val cfg = JobConfig(
      Seq(TableSpec("nation", FromSpec("nation"), "nation_out")),
      sf(), s"$base/staging", s"$base/target", s"$base/state",
      resumeFromStaging = true)
    val r = CopyJob.run(spark, cfg) // nothing staged
    assert(r.isInstanceOf[Failed])
    assert(r.asInstanceOf[Failed].reason.contains("manifest"))
  }
}
