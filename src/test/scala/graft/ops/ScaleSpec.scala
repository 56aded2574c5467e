package graft.ops

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.Tables
import graft.pipeline.{CopyJob, Publish, Staging}

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
