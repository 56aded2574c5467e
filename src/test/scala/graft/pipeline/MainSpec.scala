package graft.pipeline

import java.nio.file.{Files, Path}
import graft.{Main, SparkSpec}

/** End-to-end CLI parity: a properties file drives
  * extract → load → publish → GC through `graft.Main` exactly like
  * `java -jar … -c config.properties` drives the reference
  * (`CopyTool.java:73-107`, `docker-entrypoint.sh`), with the
  * reference's exit codes (0 copied / 1 error / 2 no new data) and
  * `--no-switch` / `--switch-only` flags. */
class MainSpec extends SparkSpec {

  private def silent: String => Unit = _ => ()

  private def writeConfig(dir: Path, name: String, text: String): String = {
    val p = dir.resolve(name)
    Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  private def baseConfig(base: Path, extra: String = ""): String =
    writeConfig(base, "job.properties",
      s"""# harness job: two tables off the sf0.001 star schema
         |graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |
         |table.nation.from = nation
         |table.nation.to = nation_out
         |table.region.from = region
         |table.region.to = region_out
         |$extra
         |""".stripMargin)

  test("-c config: full pipeline runs, exit 0, tables published") {
    val base = Files.createTempDirectory("main_e2e")
    val code = Main.run(Array("-c", baseConfig(base)), spark, silent)
    assert(code == 0)
    assert(Publish.readCurrent(spark, s"$base/target", "nation_out").count() == 25)
    assert(Publish.readCurrent(spark, s"$base/target", "region_out").count() == 5)
    // E7: staging cleaned after success
    assert(!Files.exists(base.resolve("target/_staging/table_nation_nation_out")))
  }

  test("trigger: first run copies (0), unchanged second run exits 2") {
    val base = Files.createTempDirectory("main_trig")
    val cfg = baseConfig(base,
      """trigger.table = orders
        |trigger.column = o_orderkey
        |""".stripMargin)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    assert(Main.run(Array("-c", cfg), spark, silent) == 2)
  }

  test("trigger.directory hosts the lastrun state file, like the reference") {
    val base = Files.createTempDirectory("main_trigdir")
    val stateHome = Files.createTempDirectory("main_trigstate")
    val cfg = baseConfig(base,
      s"""trigger.table = orders
         |trigger.column = o_orderkey
         |trigger.directory = $stateHome
         |""".stripMargin)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    // the watermark state landed in trigger.directory, not the default
    val files = stateHome.toFile.listFiles().map(_.getName).toSeq
    assert(files.exists(_.endsWith("_lastrun.txt")), s"got $files")
    // and it is honored on re-run: no new data → exit 2
    assert(Main.run(Array("-c", cfg), spark, silent) == 2)
  }

  test("--no-switch stages+loads but leaves the pointer; --switch-only then publishes") {
    val base = Files.createTempDirectory("main_sw")
    val cfg = baseConfig(base)
    assert(Main.run(Array("-c", cfg, "--no-switch"), spark, silent) == 0)
    // snapshot exists, current pointer does not (E6)
    assert(Publish.findNewestVersion(s"$base/target", "nation_out").nonEmpty)
    assert(Publish.currentVersion(s"$base/target", "nation_out").isEmpty)
    assert(Main.run(Array("-c", cfg, "--switch-only"), spark, silent) == 0)
    assert(Publish.readCurrent(spark, s"$base/target", "nation_out").count() == 25)
  }

  test("pure-CLI switch-only: --monetdb-table + --target-dir, no config file") {
    val base = Files.createTempDirectory("main_cli")
    val cfg = baseConfig(base)
    assert(Main.run(Array("-c", cfg, "--no-switch"), spark, silent) == 0)
    val code = Main.run(Array("--switch-only", "--monetdb-table", "region_out",
      "--monetdb-schema", "sys", "--target-dir", s"$base/target"), spark, silent)
    assert(code == 0)
    assert(Publish.readCurrent(spark, s"$base/target", "region_out").count() == 5)
    // still-unswitched sibling proves the single-table scope
    assert(Publish.currentVersion(s"$base/target", "nation_out").isEmpty)
  }

  test("multi-config fleet: one failing job exits 1 but the healthy job still publishes") {
    val base = Files.createTempDirectory("main_fleet")
    val good = baseConfig(base)
    val bad = writeConfig(base, "bad.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target2
         |table.t1.from = no_such_table
         |table.t1.to = broken_out
         |""".stripMargin)
    val code = Main.run(Array("-c", bad, "-c", good), spark, silent)
    assert(code == 1)  // fleet exit reflects the failure...
    // ...but the H4 loop kept going: the good job's tables are live
    assert(Publish.readCurrent(spark, s"$base/target", "nation_out").count() == 25)
  }

  test("config errors exit 1: missing file, zero valid tables, missing data roots") {
    val base = Files.createTempDirectory("main_err")
    assert(Main.run(Array("-c", s"$base/nope.properties"), spark, silent) == 1)
    val empty = writeConfig(base, "empty.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |table.t1.to = orphan_out
         |""".stripMargin)
    assert(Main.run(Array("-c", empty), spark, silent) == 1)
    val noRoots = writeConfig(base, "noroots.properties",
      """table.nation.from = nation
        |table.nation.to = nation_out
        |""".stripMargin)
    assert(Main.run(Array("-c", noRoots), spark, silent) == 1)
  }

  test("--resume publishes from intact staging without re-extracting") {
    val base = Files.createTempDirectory("main_resume")
    val cfg = baseConfig(base)
    // simulate a crash after phase 1: staging written, nothing published
    val staged = graft.sources.Tables(spark, sf(), "nation")
    Staging.stage(staged, s"$base/target/_staging/table_nation_nation_out")
    Staging.stage(graft.sources.Tables(spark, sf(), "region"),
      s"$base/target/_staging/table_region_region_out")
    assert(Main.run(Array("-c", cfg, "--resume"), spark, silent) == 0)
    assert(Publish.readCurrent(spark, s"$base/target", "nation_out").count() == 25)
    assert(Publish.readCurrent(spark, s"$base/target", "region_out").count() == 5)
  }

  test("monetdb block routes the load through the JDBC writer (live Derby e2e)") {
    val url = "jdbc:derby:memory:main_e2e_db;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate(
        "CREATE TABLE region_out (r_regionkey BIGINT, r_name VARCHAR(64), r_comment VARCHAR(256))")
      finally st.close()
    } finally c.close()
    val base = Files.createTempDirectory("main_jdbc")
    val cfg = writeConfig(base, "jdbc.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |graft.jdbc.url = $url
         |monetdb.server = monet-host
         |monetdb.database = monet-db
         |batch.size = 2
         |table.region.from = region
         |table.region.to = region_out
         |""".stripMargin)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    // the load IS the publish: rows arrived over JDBC, nothing under the
    // FS publish root for this table
    val back = spark.read.jdbc(url, "region_out", new java.util.Properties())
    assert(back.count() == 5)
    assert(Publish.findNewestVersion(s"$base/target", "region_out").isEmpty)
  }

  test("copymethod=copyinto drives COPY INTO over MAPI (properties e2e)") {
    // the C4 cascade: no graft.monet.copydir → the file attempt fails
    // fast, the distributed STDIN path wins — the fake MAPI server
    // receives the C7 truncate preamble, then the COPY with the
    // exact-count RECORDS hint and the rows
    val srv = new graft.sinks.FakeMonetServer("monetdb", "secret",
      connections = 2)
    val base = Files.createTempDirectory("main_copyinto")
    val cfg = writeConfig(base, "copyinto.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |monetdb.server = 127.0.0.1
         |monetdb.port = ${srv.port}
         |monetdb.database = demo
         |monetdb.user = monetdb
         |monetdb.password = secret
         |table.region.from = region
         |table.region.to = region_out
         |table.region.copymethod = copyinto
         |""".stripMargin)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    srv.awaitDone()
    // replace semantics: the truncate reaches the server BEFORE the COPY
    assert(srv.receivedCopySqls.head == "DELETE FROM \"sys\".\"region_out\";",
      s"expected the C7 truncate preamble, got: ${srv.receivedCopySqls}")
    assert(srv.receivedCopySql != null &&
      srv.receivedCopySql.contains("RECORDS INTO \"sys\".\"region_out\" FROM STDIN"),
      s"expected a RECORDS-hinted COPY FROM STDIN, got: ${srv.receivedCopySql}")
    assert(srv.receivedRows.size == 5)
    // the load IS the publish: nothing under the FS publish root
    assert(Publish.findNewestVersion(s"$base/target", "region_out").isEmpty)
  }

  test("copymethod=copyinto re-run truncates again: no append duplication") {
    // ADVICE parity: a scheduled re-run of a copyinto table must
    // REPLACE, not append — every run's COPY is preceded by its own
    // C7 truncate (CopyTool.java:806-812 runs before any load method)
    val srv = new graft.sinks.FakeMonetServer("monetdb", "secret",
      connections = 4)
    val base = Files.createTempDirectory("main_copyinto_rerun")
    val cfg = writeConfig(base, "copyinto_rerun.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |monetdb.server = 127.0.0.1
         |monetdb.port = ${srv.port}
         |monetdb.database = demo
         |monetdb.user = monetdb
         |monetdb.password = secret
         |table.region.from = region
         |table.region.to = region_out
         |table.region.copymethod = copyinto
         |""".stripMargin)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    srv.awaitDone()
    val kinds = srv.receivedCopySqls.map(s =>
      if (s.startsWith("DELETE")) "truncate"
      else if (s.startsWith("COPY")) "copy" else s)
    assert(kinds == Seq("truncate", "copy", "truncate", "copy"), kinds)
  }

  test("copymethod=copyinto + copydir drives the multi-file COPY (C1) from properties") {
    val srv = new graft.sinks.FakeMonetServer("monetdb", "secret",
      connections = 2) // truncate preamble + the COPY itself
    val base = Files.createTempDirectory("main_copydir")
    val copyDir = Files.createTempDirectory("main_copydir_mount")
    val cfg = writeConfig(base, "copydir.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |graft.monet.copydir = $copyDir
         |monetdb.server = 127.0.0.1
         |monetdb.port = ${srv.port}
         |monetdb.database = demo
         |monetdb.user = monetdb
         |monetdb.password = secret
         |table.region.from = region
         |table.region.to = region_out
         |table.region.copymethod = copyinto
         |""".stripMargin)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    srv.awaitDone()
    // the file RUNG carries its own truncate (per-rung replace semantics)
    assert(srv.receivedCopySqls.head == "DELETE FROM \"sys\".\"region_out\";",
      s"expected the rung's truncate first, got: ${srv.receivedCopySqls}")
    // the FILE branch won: one COPY ... FROM '<part files>' with the
    // staged manifest's exact count, not FROM STDIN
    val sql = srv.receivedCopySql
    assert(sql != null && sql.startsWith("""COPY 5 RECORDS INTO "sys"."region_out" FROM '"""), sql)
    assert(!sql.contains("STDIN"))
    // files staged under the per-table subdir of the shared mount...
    assert(sql.contains(s"$copyDir/sys.region_out/"))
    // ...and cleaned up after the successful COPY (reference parity)
    assert(!new java.io.File(copyDir.toFile, "sys.region_out").exists())
  }

  test("copymethod=copyinto cascades to batched INSERT when every COPY fails") {
    // forced failure: the fake server rejects COPY statements, so both
    // COPY attempts die and the cascade lands on the distributed JDBC
    // writer (CopyTool.java:829-866 parity, end to end from properties)
    val url = "jdbc:derby:memory:cascade_e2e_db;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate(
        "CREATE TABLE region_out (r_regionkey BIGINT, r_name VARCHAR(64))")
      finally st.close()
    } finally c.close()
    val srv = new graft.sinks.FakeMonetServer("monetdb", "secret",
      connections = 2, failCopy = true)
    val base = Files.createTempDirectory("main_cascade")
    val cfg = writeConfig(base, "cascade.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |graft.jdbc.url = $url
         |monetdb.server = 127.0.0.1
         |monetdb.port = ${srv.port}
         |monetdb.database = demo
         |monetdb.user = monetdb
         |monetdb.password = secret
         |batch.size = 2
         |table.region.from = region
         |table.region.to = region_out
         |table.region.copymethod = copyinto
         |""".stripMargin)
    assert(Main.run(Array("-c", cfg), spark, silent) == 0)
    // the server DID see a COPY attempt before rejecting it
    assert(srv.receivedCopySql != null && srv.receivedCopySql.startsWith("COPY"),
      s"expected a rejected COPY attempt, got: ${srv.receivedCopySql}")
    // and the rows landed via the INSERT fallback
    val back = spark.read.jdbc(url, "region_out", new java.util.Properties())
    assert(back.count() == 5)
  }

  test("copymethod=insert (and unset) keep the distributed JDBC writer") {
    val text1 =
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = /tmp/x
         |monetdb.server = h
         |monetdb.database = d
         |table.a.from = region
         |table.a.to = r_out
         |table.a.copymethod = insert
         |table.b.from = nation
         |table.b.to = n_out
         |""".stripMargin
    val p = PropertiesConfig.parse(text1, env = Map.empty)
    val props = PropertiesConfig.parseProperties(text1, Map.empty)
    val cfg = ConfigBridge.toJobConfig(p, props)
    assert(cfg.tables.size == 2 &&
      cfg.tables.forall(_.publishMode.isInstanceOf[CopyJob.JdbcLoad]))
    // and copyinto flips ONLY the asking table to the cascade
    val text2 =
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = /tmp/x
         |graft.monet.copydir = /mnt/s
         |monetdb.server = h
         |monetdb.database = d
         |monetdb.port = 49999
         |table.a.from = region
         |table.a.to = r_out
         |table.a.copymethod = copyinto
         |table.b.from = nation
         |table.b.to = n_out
         |""".stripMargin
    val p2 = PropertiesConfig.parse(text2, env = Map.empty)
    val cfg2 = ConfigBridge.toJobConfig(p2,
      PropertiesConfig.parseProperties(text2, Map.empty))
    val byId = cfg2.tables.map(t => t.id -> t.publishMode).toMap
    // the cascade's INSERT rung and the plain INSERT table dial the
    // configured port too, not MonetDB's default
    byId("a") match {
      case m: CopyJob.MonetLoad =>
        assert(m.port == 49999 && m.copyDir.contains("/mnt/s"))
        assert(m.insert.url == "jdbc:monetdb://h:49999/d")
      case other => fail(s"table a should cascade, got $other")
    }
    assert(byId("b") == CopyJob.JdbcLoad("jdbc:monetdb://h:49999/d", 10000))
  }

  test("--resume with zero-row staging for a non-allowEmpty table fails before publish") {
    val base = Files.createTempDirectory("main_resume0")
    val cfg = baseConfig(base)
    // crash left an empty staging for nation (allowEmpty defaults false)
    Staging.stage(graft.sources.Tables(spark, sf(), "nation")
        .filter(org.apache.spark.sql.functions.lit(false)),
      s"$base/target/_staging/table_nation_nation_out")
    Staging.stage(graft.sources.Tables(spark, sf(), "region"),
      s"$base/target/_staging/table_region_region_out")
    assert(Main.run(Array("-c", cfg, "--resume"), spark, silent) == 1)
    // the guard fired before ANY publish: no pointer was repointed at a
    // never-written snapshot (the reader-wedging failure mode)
    assert(Publish.currentVersion(s"$base/target", "nation_out").isEmpty)
    assert(Publish.currentVersion(s"$base/target", "region_out").isEmpty)
  }

  test("scheduler + --resume: first run consumes staging, later runs extract normally") {
    val base = Files.createTempDirectory("main_resumesched")
    val cfg = baseConfig(base, "scheduler.interval = 1 second\n")
    Staging.stage(graft.sources.Tables(spark, sf(), "nation"),
      s"$base/target/_staging/table_nation_nation_out")
    Staging.stage(graft.sources.Tables(spark, sf(), "region"),
      s"$base/target/_staging/table_region_region_out")
    // run 1 resumes (and cleans staging); run 2 MUST extract normally —
    // a resume flag that persisted would fail run 2 on missing staging
    assert(Main.run(Array("-c", cfg, "--resume", "--max-runs", "2"),
      spark, silent) == 0)
    assert(Publish.listVersions(s"$base/target", "nation_out").size == 2)
  }

  test("tables naming a DBMS source are rejected by the FS bridge, exit 1") {
    val base = Files.createTempDirectory("main_src")
    val cfg = writeConfig(base, "dbms.properties",
      s"""graft.source.dir = ${sf()}
         |graft.target.dir = $base/target
         |mssql.src1.server = host
         |mssql.src1.database = db
         |table.t1.from = nation
         |table.t1.to = nation_out
         |table.t1.source = src1
         |""".stripMargin)
    var msg = ""
    assert(Main.run(Array("-c", cfg), spark, m => msg += m) == 1)
    assert(msg.contains("non-default sources"), s"got: $msg")
  }

  test("bad flags exit 1: unknown option, missing value, ns+so conflict") {
    assert(Main.run(Array("--frobnicate"), spark, silent) == 1)
    assert(Main.run(Array("-c"), spark, silent) == 1)
    assert(Main.run(Array("-c", "x", "--no-switch", "--switch-only"), spark, silent) == 1)
    assert(Main.run(Array("-c", "x", "--resume", "--switch-only"), spark, silent) == 1)
    assert(Main.run(Array.empty, spark, silent) == 1)
  }

  test("scheduler.interval: --max-runs bounds the loop; each run re-executes") {
    val base = Files.createTempDirectory("main_sched")
    val cfg = baseConfig(base, "scheduler.interval = 1 second\n")
    val t0 = System.nanoTime()
    assert(Main.run(Array("-c", cfg, "--max-runs", "2"), spark, silent) == 0)
    // two runs, one 1s sleep between them
    assert((System.nanoTime() - t0) / 1e9 >= 1.0)
    // second run published a second version
    assert(Publish.listVersions(s"$base/target", "nation_out").size == 2)
  }
}
