package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.sources.{SqlGen, Tables}

class IntervalsSpec extends AnyFunSuite {
  test("reference interval forms (CopyToolConfig.java:574-642)") {
    assert(Intervals.parseSeconds("every 5 minutes") == 300)
    assert(Intervals.parseSeconds("2 hours") == 7200)
    assert(Intervals.parseSeconds("1 day") == 86400)
    assert(Intervals.parseSeconds("30 seconds") == 30)
    assert(Intervals.parseSeconds("45") == 45)
    assert(Intervals.parseSeconds("every 1 minute") == 60)
    intercept[IllegalArgumentException](Intervals.parseSeconds("soon"))
  }
}

class EnvSubstSpec extends AnyFunSuite {
  private val env = Map("HOST" -> "db1.example", "PORT" -> "5432")
  test("whole-value ENV:VAR:default form (CopyToolConfig.java:281-357)") {
    assert(EnvSubst.substitute("ENV:HOST:fallback", env) == "db1.example")
    assert(EnvSubst.substitute("ENV:MISSING:fallback", env) == "fallback")
  }
  test("inline {env:VAR} form") {
    assert(EnvSubst.substitute("jdbc://{env:HOST}:{env:PORT}/db", env) ==
      "jdbc://db1.example:5432/db")
    assert(EnvSubst.substitute("plain", env) == "plain")
  }
}

class SqlGenSpec extends AnyFunSuite {
  // parity with the reference's own tests (CopyTableTest.java:10-43)
  test("count query generation") {
    assert(SqlGen.countSql("test") == "SELECT COUNT(*) FROM test")
    assert(SqlGen.countSql("test", fromCountQuery = Some("SELECT COUNT(*) FROM test WHERE x=1"))
      == "SELECT COUNT(*) FROM test WHERE x=1")
  }
  test("select query generation") {
    assert(SqlGen.selectSql("test") == "SELECT * FROM test")
    assert(SqlGen.selectSql("test", fromColumns = Some("col1, col2")) ==
      "SELECT col1, col2 FROM test")
    assert(SqlGen.selectSql("test", fromQuery = Some("SELECT a FROM b JOIN c")) ==
      "SELECT a FROM b JOIN c")
  }
  test("custom query requires paired count query (CopyToolConfig.java:955-960)") {
    intercept[IllegalArgumentException] {
      SqlGen.countSql("test", fromQuery = Some("SELECT a FROM b"))
    }
  }
  test("dialect URLs + top-1 watermark queries (SourceDatabaseType.java)") {
    assert(SqlGen.MsSql.url("srv", None, "db") == "jdbc:sqlserver://srv:1433;databaseName=db")
    assert(SqlGen.Postgres.url("srv", Some(5433), "db") == "jdbc:postgresql://srv:5433/db")
    // A7 named instance (SourceDatabase.java:49-52): reaches the URL;
    // without an explicit port the Browser service resolves the
    // instance's dynamic port, so no hardcoded :1433
    assert(SqlGen.MsSql.url("srv", None, "db", Some("SQLEXPRESS")) ==
      "jdbc:sqlserver://srv;instanceName=SQLEXPRESS;databaseName=db")
    assert(SqlGen.MsSql.url("srv", Some(1444), "db", Some("SQLEXPRESS")) ==
      "jdbc:sqlserver://srv:1444;instanceName=SQLEXPRESS;databaseName=db")
    // blank instance is treated as unset, not emitted
    assert(SqlGen.MsSql.url("srv", None, "db", Some("  ")) ==
      "jdbc:sqlserver://srv:1433;databaseName=db")
    // PostgreSQL has no named instances — loud failure beats silent drop
    intercept[IllegalArgumentException](
      SqlGen.Postgres.url("srv", None, "db", Some("nope")))
    assert(SqlGen.MsSql.top1("t", "c") == "SELECT TOP 1 [c] FROM [t] ORDER BY [c] DESC")
    assert(SqlGen.Postgres.top1("t", "c") == """SELECT "c" FROM "t" ORDER BY "c" DESC LIMIT 1""")
    assert(SqlGen.monetDbUrl("srv", 49999, "db") == "jdbc:monetdb://srv:49999/db")
  }
}

class WatermarkSpec extends SparkSpec {
  import Watermark._

  private val hash = "cfg1"

  test("conservative decision table (CopyTool.java:383-477)") {
    val stored = Some(State(BigintV(100), hash))
    // no stored state → copy
    assert(hasNewData(Some(BigintV(5)), None, hash))
    // poll failed / empty → copy
    assert(hasNewData(None, stored, hash))
    // config changed → copy
    assert(hasNewData(Some(BigintV(100)), stored, "other"))
    // type changed → copy
    assert(hasNewData(Some(TimestampV(Timestamp.valueOf("2024-01-01 00:00:00"))), stored, hash))
    // newer value → copy
    assert(hasNewData(Some(BigintV(101)), stored, hash))
    // same value → no copy (the ONLY false case family)
    assert(!hasNewData(Some(BigintV(100)), stored, hash))
    // older value → no copy
    assert(!hasNewData(Some(BigintV(99)), stored, hash))
  }

  test("timestamp + date comparisons") {
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-02 00:00:00")
    assert(hasNewData(Some(TimestampV(t2)), Some(State(TimestampV(t1), hash)), hash))
    assert(!hasNewData(Some(TimestampV(t1)), Some(State(TimestampV(t1), hash)), hash))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-02-01")
    assert(hasNewData(Some(DateV(d2)), Some(State(DateV(d1), hash)), hash))
  }

  test("state round-trip + corrupt state → None (→ copy)") {
    val dir = Files.createTempDirectory("wm")
    val p = dir.resolve("state.txt")
    val st = State(TimestampV(Timestamp.valueOf("2024-01-30 23:57:12.194062")), hash)
    writeState(p, st)
    assert(readState(p).contains(st))
    Files.writeString(p, "garbage")
    assert(readState(p).isEmpty)
    assert(readState(dir.resolve("missing.txt")).isEmpty)
  }

  test("poll: max over trigger column, INTEGER→BIGINT normalization") {
    val events = Tables(spark, sf(), "events")
    val Some(TimestampV(ts)) = poll(events, "ts")
    assert(ts.after(Timestamp.valueOf("2024-01-01 00:00:00")))
    val Some(BigintV(id)) = poll(events, "event_id")
    assert(id > 0)
    // int32 column normalizes to BigintV
    val nation = Tables(spark, sf(), "nation")
    val Some(BigintV(nk)) = poll(nation, "n_nationkey")
    assert(nk == 24)
  }

  test("poll on empty source → None") {
    val empty = Tables(spark, sf(), "events").filter("event_id < 0")
    assert(poll(empty, "event_id").isEmpty)
  }

  test("poll of a timestamp column under the java8 datetime API: footers and aggregate") {
    val dir = Files.createTempDirectory("wm-java8")
    graft.sources.ParquetMetaSpec.write(dir.resolve("part-0.parquet"), n = 40, nulls = 3, shift = 0)
    // a session without the footer rule, so the filtered poll scans
    def polls(java8: Boolean): Seq[Option[Value]] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.datetime.java8API.enabled", java8.toString)
      val df = s.read.parquet(dir.toString)
      assert(graft.sources.ParquetMeta.max(df, "ts").exists(_.exists(v =>
        v.isInstanceOf[java.time.Instant] == java8)), "the footers did not answer")
      Seq(poll(df, "ts"), poll(df.filter(col("i") > Int.MinValue), "ts"))
    }
    val Seq(footer, scanned) = polls(java8 = true)
    assert(footer.exists(_.isInstanceOf[TimestampV]) && footer == scanned)
    assert(polls(java8 = false) == Seq(footer, footer))
  }
}

class StagingSpec extends SparkSpec {
  test("stage → validate → read round-trip with manifest") {
    val dir = Files.createTempDirectory("stg").toString
    val df = Tables(spark, sf(), "nation")
    val n = Staging.stage(df, dir)
    assert(n == 25)
    val m = Staging.validate(spark, dir).manifest
    assert(m.count == 25)
    assert(m.schema == df.schema)
    assert(Staging.read(spark, dir).count() == 25)
    Staging.cleanup(dir)
    assert(!Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("autoTrim trims string columns only (§1.3)") {
    import spark.implicits._
    val df = Seq((1, "  padded  "), (2, "clean")).toDF("id", "s")
    val trimmed = Staging.applyAutoTrim(df).collect().map(r => r.getString(1))
    assert(trimmed.sameElements(Array("padded", "clean")))
  }

  test("null vs empty string survives staging (§1.3)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stg2").toString
    val df = Seq((1, Some("")), (2, None: Option[String])).toDF("id", "s")
    Staging.stage(df, dir)
    val back = Staging.read(spark, dir).orderBy("id").collect()
    assert(back(0).getString(1) == "")
    assert(back(1).isNullAt(1))
    Staging.cleanup(dir)
  }

  test("zero-row staging keeps schema (B4)") {
    val dir = Files.createTempDirectory("stg3").toString
    val df = Tables(spark, sf(), "nation").filter("n_nationkey < 0")
    assert(Staging.stage(df, dir) == 0)
    assert(Staging.validate(spark, dir).manifest.count == 0)
    Staging.cleanup(dir)
  }

  test("stage of a plain parquet table is one Spark job: the write itself") {
    // 4 when stage read its output back: + 1 inference and 2 count jobs
    val df = Tables(spark, sf(), "nation")   // resolved from its footer: no job
    val dir = Files.createTempDirectory("stg5").toString
    val (n, jobs) = JobCount(spark, "staging-one-job")(Staging.stage(df, dir))
    assert(n == 25)
    assert(jobs == 1, s"stage ran $jobs Spark jobs")
    Staging.cleanup(dir)
  }

  test("staged count (returned and manifest) equals a read-back count: 7 partitions, 0 rows") {
    val nation = Tables(spark, sf(), "nation")
    Seq(nation.repartition(7), nation.filter("n_nationkey < 0")).foreach { df =>
      val dir = Files.createTempDirectory("stg6").toString
      val n = Staging.stage(df, dir)
      val back = Staging.read(spark, dir).count()
      assert(n == back && Staging.readManifest(dir).map(_.count).contains(back),
        s"returned $n, manifest ${Staging.readManifest(dir)}, read back $back")
      Staging.cleanup(dir)
    }
  }

  test("validation fails on missing manifest (F3)") {
    val dir = Files.createTempDirectory("stg4").toString
    intercept[IllegalStateException](Staging.validate(spark, dir))
  }
}

class PublishSpec extends SparkSpec {
  test("snapshot → publish → read-current → GC keep-2 (E1/E3/E4/E5)") {
    val root = Files.createTempDirectory("pub").toString
    val df = Tables(spark, sf(), "region")
    val versions = Seq("2024_01_01_00_00_00", "2024_01_02_00_00_00", "2024_01_03_00_00_00")
    versions.foreach(v => df.write.parquet(Publish.snapshotDir(root, "region", v)))
    assert(Publish.findNewestVersion(root, "region").contains("2024_01_03_00_00_00"))
    Publish.publishVersion(root, "region", "2024_01_03_00_00_00")
    assert(Publish.currentVersion(root, "region").contains("2024_01_03_00_00_00"))
    assert(Publish.readCurrent(spark, root, "region").count() == 5)
    val dropped = Publish.gcOldVersions(root, "region", keep = 2)
    assert(dropped == Seq("2024_01_01_00_00_00"))
    assert(Publish.listVersions(root, "region").sorted ==
      Seq("2024_01_02_00_00_00", "2024_01_03_00_00_00"))
  }

  test("newVersion: two issues in the same second stay distinct and ordered") {
    // the reference-inherited gap (CopyTool.java:216-224): a second-
    // granular stamp collides when runs are < 1 s apart; the issuer
    // must bump, never re-mint
    val t = java.time.LocalDateTime.now()
    val v1 = Publish.newVersion(t)
    val v2 = Publish.newVersion(t)
    val v3 = Publish.newVersion(t)
    assert(v1 < v2 && v2 < v3, s"$v1 / $v2 / $v3")
    assert(Seq(v1, v2, v3).forall(v =>
      Publish.VersionPattern.pattern.matcher(v).matches))
    // a later wall clock resumes stamping normally
    val v4 = Publish.newVersion(t.plusMinutes(5))
    assert(v4 == Publish.versionStamp(t.plusMinutes(5)) && v3 < v4)
  }

  test("switch-only publishes newest without touching data (E6)") {
    val root = Files.createTempDirectory("pub2").toString
    val df = Tables(spark, sf(), "region")
    df.write.parquet(Publish.snapshotDir(root, "t", "2024_05_01_00_00_00"))
    df.write.parquet(Publish.snapshotDir(root, "t", "2024_06_01_00_00_00"))
    assert(Publish.publishNewest(root, "t").contains("2024_06_01_00_00_00"))
    assert(Publish.currentVersion(root, "t").contains("2024_06_01_00_00_00"))
  }

  test("GC never deletes the published version even when older") {
    val root = Files.createTempDirectory("pub3").toString
    val df = Tables(spark, sf(), "region")
    Seq("2024_01_01_00_00_00", "2024_01_02_00_00_00", "2024_01_03_00_00_00", "2024_01_04_00_00_00")
      .foreach(v => df.write.parquet(Publish.snapshotDir(root, "t", v)))
    Publish.publishVersion(root, "t", "2024_01_01_00_00_00") // pinned old
    val dropped = Publish.gcOldVersions(root, "t", keep = 2)
    assert(!dropped.contains("2024_01_01_00_00_00"))
    assert(Publish.listVersions(root, "t").contains("2024_01_01_00_00_00"))
  }

  test("version pattern matches reference regex (CopyTool.java:64)") {
    assert(Publish.VersionPattern.pattern.matcher("2024_01_02_03_04_05").matches)
    assert(!Publish.VersionPattern.pattern.matcher("2024-01-02").matches)
    assert(!Publish.VersionPattern.pattern.matcher("backup").matches)
  }

  test("temp-swap publish replaces data dir (E2)") {
    val root = Files.createTempDirectory("pub4").toString
    def staged(table: String) = {
      val dir = Files.createTempDirectory("pub4stg").toString
      Staging.stage(Tables(spark, sf(), table), dir)
      Staging.validate(spark, dir).files
    }
    Publish.tempSwapPublish(staged("region"), root, "t")
    assert(spark.read.parquet(s"$root/t/data").count() == 5)
    Publish.tempSwapPublish(staged("nation"), root, "t")
    assert(spark.read.parquet(s"$root/t/data").count() == 25)
  }
}

/** `body`'s result and the Spark jobs started under the job group `group`
  * while it runs on this thread or on threads it creates (they inherit
  * the group), counting only the jobs `only` accepts. Suites share the
  * session and run concurrently, so other jobs do not count. */
object JobCount {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  /** A job started inside `Tables.apply`. Schema inference was one per
    * source; it now reads a footer on the driver, so no job matches. */
  val sourceResolution: SparkListenerJobStart => Boolean =
    _.stageInfos.exists(_.details.contains("graft.sources.Tables$.apply"))

  def apply[T](spark: org.apache.spark.sql.SparkSession, group: String,
      only: SparkListenerJobStart => Boolean = _ => true)(body: => T): (T, Int) = {
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) { if (only(j)) jobs.incrementAndGet() }
          else if (g == marker) markerSeen.countDown()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = body
      // listener events arrive in order: once a marker job started after
      // `body` is seen, every job `body` started has been counted
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      (result, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** The local file system under the scheme `countfs`, counting the
  * listings of each path: a path read as `countfs:///dir/t.parquet` is
  * listed once per resolution. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.counts.merge(f.toUri.getPath, 1, (a: Int, b: Int) => a + b)
    super.listStatus(f)
  }
}

object CountingFs {
  /** The prefix that puts an absolute local path on this file system. */
  val Scheme = "countfs://"
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  def listings(path: String): Int = counts.getOrDefault(path, 0)
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
}

class CopyJobSpec extends SparkSpec {
  import CopyJob._
  import java.nio.file.{Path, Paths}
  import scala.jdk.CollectionConverters._

  private def freshCfg(tables: Seq[TableSpec], trigger: Option[TriggerSpec] = None) = {
    val base = Files.createTempDirectory("job")
    JobConfig(tables, sf(), s"$base/staging", s"$base/target", s"$base/state",
      trigger = trigger)
  }

  /** Every file and dir under the staging and target roots, with size
    * and modification time. */
  private def tree(cfg: JobConfig): Set[(String, Long, Long)] =
    Seq(cfg.stagingRoot, cfg.targetRoot).map(Paths.get(_)).filter(Files.exists(_))
      .flatMap(root => Files.walk(root).iterator.asScala.toSeq)
      .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet

  private def stagingDir(cfg: JobConfig, from: String, to: String): Path =
    Paths.get(cfg.stagingRoot, s"table_${from}_$to")

  /** A regular file where the table's staging dir goes: its extract fails. */
  private def blockStaging(cfg: JobConfig, from: String, to: String): Path = {
    Files.createDirectories(Paths.get(cfg.stagingRoot))
    Files.writeString(stagingDir(cfg, from, to), "not a dir")
  }

  /** Rows in a comparable, order-free form. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Column names and types; parquet read-back is always nullable. */
  private def shape(s: org.apache.spark.sql.types.StructType) =
    s.fields.map(f => (f.name, f.dataType)).toSeq

  /** Delete the source record of `to`'s published snapshot, so the
    * next run extracts the table again instead of reusing the snapshot. */
  private def forceCopy(cfg: JobConfig, to: String): Unit =
    Files.delete(Paths.get(Publish.snapshotDir(cfg.targetRoot, to,
      Publish.currentVersion(cfg.targetRoot, to).get), Publish.RecordFile))

  /** Move the stored watermark a day back, so the next run's trigger
    * copies. Returns the state file. */
  private def rewindWatermark(cfg: JobConfig): Path = {
    val statePath = Files.list(Paths.get(cfg.stateDir)).iterator.asScala.toSeq.head
    val Some(Watermark.State(Watermark.TimestampV(ts), h)) = Watermark.readState(statePath)
    Watermark.writeState(statePath,
      Watermark.State(Watermark.TimestampV(new Timestamp(ts.getTime - 86400000L)), h))
    statePath
  }

  test("full 4-phase run: extract → load → publish → GC, result Copied") {
    val cfg = freshCfg(Seq(
      TableSpec("nation", FromSpec("nation"), "nation_out"),
      TableSpec("region", FromSpec("region"), "region_out")))
    val r = CopyJob.run(spark, cfg)
    assert(r == Copied)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "nation_out").count() == 25)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "region_out").count() == 5)
    // staging cleaned up (E7)
    assert(!Files.exists(java.nio.file.Paths.get(cfg.stagingRoot, "table_nation_nation_out")))
  }

  test("phase-parallel run equals sequential: same outputs, phases still barriered") {
    val tables = Seq(
      TableSpec("nation", FromSpec("nation"), "nation_p"),
      TableSpec("region", FromSpec("region"), "region_p"),
      TableSpec("supplier", FromSpec("supplier"), "supplier_p"))
    val cfg = freshCfg(tables)
    assert(CopyJob.run(spark, cfg) == Copied)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "nation_p").count() == 25)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "region_p").count() == 5)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "supplier_p").count() > 0)
  }

  test("a failing table in a parallel phase fails the job with the real cause") {
    val cfg = freshCfg(Seq(
      TableSpec("nation", FromSpec("nation"), "n_ok"),
      TableSpec("bad", FromSpec("no_such_table"), "n_bad")))
    CopyJob.run(spark, cfg) match {
      case Failed(reason, cause) =>
        assert(reason.startsWith("probe bad: "), reason)
        assert(cause.exists(_.isInstanceOf[org.apache.spark.sql.AnalysisException]), cause)
      case other => fail(s"expected Failed, got $other")
    }
  }

  test("a failed phase leaves no sibling table running after run returns") {
    // the failing table comes first: its extract fails at once while the
    // slow one (5 rows × 600 ms) is still writing its staging
    val cfg = freshCfg(Seq(
      TableSpec("bad", FromSpec("nation"), "n_bad"),
      TableSpec("slow", FromSpec("slow", query = Some(
        "SELECT r_regionkey, reflect('java.lang.Thread', 'sleep', CAST(600 AS BIGINT)) AS z " +
          "FROM region")), "slow_out")))
    blockStaging(cfg, "nation", "n_bad")
    val r = CopyJob.run(spark, cfg)
    val after = tree(cfg)
    Thread.sleep(4000)
    assert(tree(cfg) == after, "staging or target changed after run returned")
    r match {
      case Failed(reason, _) => assert(reason.startsWith("extract bad: "), reason)
      case other => fail(s"expected Failed, got $other")
    }
  }

  test("a failed extract under default concurrency: no load, publish or state advance") {
    val url = "jdbc:derby:memory:barrierdb;create=true"
    def derby[T](f: java.sql.Statement => T): T = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); try f(st) finally st.close() } finally c.close()
    }
    def derbyRows(): Long = derby { st =>
      val rs = st.executeQuery("SELECT COUNT(*) FROM region_live"); rs.next(); rs.getLong(1)
    }
    derby(_.executeUpdate(
      "CREATE TABLE region_live (r_regionkey BIGINT, r_name VARCHAR(64), r_comment VARCHAR(256))"))
    val cfg = freshCfg(Seq(
      TableSpec("nation", FromSpec("nation"), "n_snap"),
      TableSpec("region", FromSpec("region"), "region_live", publishMode = JdbcLoad(url)),
      TableSpec("supplier", FromSpec("supplier"), "s_snap")),
      trigger = Some(TriggerSpec("events", "ts")))
    assert(CopyJob.run(spark, cfg) == Copied)
    // an older stored watermark, so the next run's trigger copies; a
    // sentinel row a JdbcLoad's truncate would remove
    val statePath = rewindWatermark(cfg)
    derby(_.executeUpdate("INSERT INTO region_live VALUES (99, 'sentinel', '')"))
    val state0 = Files.readString(statePath)
    val snaps = Seq("n_snap", "s_snap")
    val versions0 = snaps.map(Publish.listVersions(cfg.targetRoot, _).sorted)
    val current0 = snaps.map(Publish.currentVersion(cfg.targetRoot, _))

    forceCopy(cfg, "s_snap")   // an unchanged source would reuse, not extract
    blockStaging(cfg, "supplier", "s_snap")
    CopyJob.run(spark, cfg) match {
      case Failed(reason, _) => assert(reason.startsWith("extract supplier: "), reason)
      case other => fail(s"expected Failed, got $other")
    }
    assert(snaps.map(Publish.listVersions(cfg.targetRoot, _).sorted) == versions0)
    assert(snaps.map(Publish.currentVersion(cfg.targetRoot, _)) == current0)
    assert(derbyRows() == 6, "the JDBC target was loaded after a failed extract")
    assert(Files.readString(statePath) == state0)
  }

  test("a two-table run's Spark jobs: no re-resolve, read-back count or second staged read") {
    // measured 20 jobs before sources were resolved once and the staged
    // count rode the write, 10 after. Per table 5 went: the extract's
    // source re-resolve (1 inference job), the staged read-back
    // (1 inference + 2 count jobs) and the load's second staged read
    // (1 inference job). 8 since a snapshot is a copy of the staged
    // files: each table's snapshot write (1 job) went
    val cfg = freshCfg(Seq(
      TableSpec("nation", FromSpec("nation"), "n_jobs"),
      TableSpec("region", FromSpec("region"), "r_jobs")))
    val (r, jobs) = JobCount(spark, "copyjob-two-tables")(CopyJob.run(spark, cfg))
    assert(r == Copied)
    assert(jobs <= 20 - 2 * 5 - 2, s"two-table run took $jobs Spark jobs")
  }

  test("a copying run lists each source table once and runs no inference job") {
    // the trigger, the events and orders extracts and the A3 query's views
    // share one resolution of each table. The query registers a view of
    // every harness table, so the run resolves all of them, each listed
    // once: 13 listings when the trigger, each extract and the query
    // resolved their own (events three times, orders twice). A resolution
    // was one inference job (10 in this run) until schemas came from
    // footers read on the driver
    CountingFs.install(spark)
    val cfg = freshCfg(Seq(
      TableSpec("ev", FromSpec("events"), "ev_once"),
      TableSpec("ord", FromSpec("orders"), "ord_once"),
      TableSpec("q", FromSpec("q", query = Some(
        "SELECT c_nationkey, count(*) AS n FROM orders JOIN customer " +
          "ON o_custkey = c_custkey GROUP BY c_nationkey")), "q_once")),
      trigger = Some(TriggerSpec("events", "ts"))).copy(sourceDir = CountingFs.Scheme + sf())
    val (r, inference) = JobCount(spark, "copyjob-resolve-once", JobCount.sourceResolution)(
      CopyJob.run(spark, cfg))
    assert(r == Copied)
    assert(inference == 0, s"$inference inference jobs")
    val listed = Tables.names.map(t => t -> CountingFs.listings(s"${sf()}/$t.parquet"))
    assert(listed.forall(_._2 == 1), listed)
  }

  test("a ViewSwitch table's load runs no Spark job: F3 reads footers") {
    // a resumed run is the load alone: validate, copy, publish, clean up.
    // 2 jobs when the snapshot was a Spark write of the validated data, 1
    // while F3's read of the staging inferred its schema in a job
    val cfg = freshCfg(Seq(TableSpec("nation", FromSpec("nation"), "n_load")))
    Staging.stage(Tables(spark, sf(), "nation"), stagingDir(cfg, "nation", "n_load").toString)
    val (r, jobs) = JobCount(spark, "copyjob-viewswitch-load")(
      CopyJob.run(spark, cfg.copy(resumeFromStaging = true)))
    assert(r == Copied)
    assert(jobs == 0, s"the load ran $jobs Spark jobs")
    assert(Publish.readCurrent(spark, cfg.targetRoot, "n_load").count() == 25)
  }

  test("F3 fails a staging that lost a part file, naming the count; --resume publishes nothing") {
    val cfg = freshCfg(Seq(TableSpec("nation", FromSpec("nation"), "n_lost")))
    val dir = stagingDir(cfg, "nation", "n_lost")
    Staging.stage(Tables(spark, sf(), "nation").repartition(3), dir.toString)
    val parts = Files.list(Staging.files(dir.toString)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    assert(parts.size == 3)
    val lost = Staging.read(spark, dir.toString).count() -
      spark.read.parquet(parts.tail.map(_.toString): _*).count()
    Files.delete(parts.head)
    CopyJob.run(spark, cfg.copy(resumeFromStaging = true)) match {
      case Failed(reason, _) => assert(reason.startsWith("probe nation: ") && reason.endsWith(
        s"staged row count mismatch in '$dir': 2 files hold ${25 - lost} rows, manifest 25"), reason)
      case other => fail(s"expected Failed, got $other")
    }
    assert(Publish.listVersions(cfg.targetRoot, "n_lost").isEmpty)
    assert(Publish.currentVersion(cfg.targetRoot, "n_lost").isEmpty)
  }

  test("a NoNewData run runs no Spark job: the watermark is read from footers") {
    val cfg = freshCfg(Seq(TableSpec("nation", FromSpec("nation"), "n_poll")),
      trigger = Some(TriggerSpec("events", "ts")))
    assert(CopyJob.run(spark, cfg) == Copied)
    val (r, jobs) = JobCount(spark, "copyjob-nonewdata")(CopyJob.run(spark, cfg))
    assert(r == NoNewData)
    assert(jobs == 0, s"the poll ran $jobs Spark jobs")
  }

  test("an unsupported trigger column fails before any Spark job, with the type's class") {
    val cfg = freshCfg(Seq(TableSpec("nation", FromSpec("nation"), "n_str")),
      trigger = Some(TriggerSpec("events", "event_type")))
    val (r, jobs) = JobCount(spark, "copyjob-string-trigger")(CopyJob.run(spark, cfg))
    r match {
      case Failed(reason, _) =>
        assert(reason == "Unsupported watermark type java.lang.String for column 'event_type'")
      case other => fail(s"expected Failed, got $other")
    }
    assert(jobs == 0, s"the failed poll ran $jobs Spark jobs")
    assert(!Files.exists(Paths.get(cfg.stateDir)))
  }

  test("a trigger file whose footer cannot be read fails the run; the watermark stays") {
    val src = Files.createTempDirectory("job_src")
    val events = src.resolve("events.parquet")
    Files.createDirectories(events)
    Files.copy(Paths.get(sf(), "events.parquet"), events.resolve("part-00000-base.parquet"))
    val cfg = freshCfg(Seq(TableSpec("ev", FromSpec("events"), "ev_corrupt")),
      trigger = Some(TriggerSpec("events", "ts"))).copy(sourceDir = src.toString)
    assert(CopyJob.run(spark, cfg) == Copied)
    val statePath = Files.list(Paths.get(cfg.stateDir)).iterator.asScala.toSeq.head
    val state0 = Files.readString(statePath)
    val current0 = Publish.currentVersion(cfg.targetRoot, "ev_corrupt")
    Tables(spark, sf(), "events").limit(5)
      .withColumn("ts", org.apache.spark.sql.functions.expr("ts + interval 1 day"))
      .write.mode("append").parquet(events.toString)
    Files.writeString(events.resolve("part-99999-corrupt.parquet"), "not parquet")
    assert(CopyJob.run(spark, cfg).isInstanceOf[Failed])
    assert(Files.readString(statePath) == state0, "the watermark moved on a failed run")
    assert(Publish.currentVersion(cfg.targetRoot, "ev_corrupt") == current0)
  }

  test("a publish that fails after the load leaves every staging whole; --resume completes it") {
    val tables = Seq(
      TableSpec("nation", FromSpec("nation"), "n_fault"),
      TableSpec("region", FromSpec("region"), "r_fault"),
      TableSpec("supplier", FromSpec("supplier"), "s_fault"))
    val cfg = freshCfg(tables, trigger = Some(TriggerSpec("events", "ts")))
    assert(CopyJob.run(spark, cfg) == Copied)
    val statePath = rewindWatermark(cfg)
    val state0 = Files.readString(statePath)
    val current0 = tables.map(t => Publish.currentVersion(cfg.targetRoot, t.to))
    // nation and region extract again; supplier reuses its snapshot
    Seq("n_fault", "r_fault").foreach(forceCopy(cfg, _))
    // a non-empty directory where region's CURRENT goes: its ATOMIC_MOVE fails
    val ptr = Paths.get(cfg.targetRoot, "r_fault", "CURRENT")
    Files.delete(ptr)
    Files.createDirectories(ptr.resolve("blocker"))

    assert(CopyJob.run(spark, cfg).isInstanceOf[Failed])
    assert(Files.readString(statePath) == state0, "the watermark moved on a failed run")
    tables.take(2).zip(Seq(25L, 5L)).foreach { case (t, n) =>
      val staged = Staging.validate(spark, stagingDir(cfg, t.from.name, t.to).toString)
      assert(staged.manifest.count == n && staged.data.count() == n, s"${t.id} staging")
    }
    assert(Staging.reusedSnapshot(stagingDir(cfg, "supplier", "s_fault").toString)
      .contains(Paths.get(Publish.snapshotDir(cfg.targetRoot, "s_fault", current0(2).get))))

    graft.FsUtil.deleteRecursively(ptr)
    assert(CopyJob.run(spark, cfg.copy(resumeFromStaging = true)) == Copied)
    assert(Files.readString(statePath) != state0, "the resume did not store the watermark")
    val fresh = freshCfg(tables)
    assert(CopyJob.run(spark, fresh) == Copied)
    tables.zip(current0).foreach { case (t, before) =>
      val now = Publish.currentVersion(cfg.targetRoot, t.to)
      assert(now.isDefined && now != before && now == Publish.findNewestVersion(cfg.targetRoot, t.to))
      assert(rows(Publish.readCurrent(spark, cfg.targetRoot, t.to)) ==
        rows(Publish.readCurrent(spark, fresh.targetRoot, t.to)), t.id)
    }
  }

  test("a --resume run keeps the job's watermark state: the next unchanged run is NoNewData") {
    val cfg = freshCfg(Seq(TableSpec("region", FromSpec("region"), "r_resume_state")),
      trigger = Some(TriggerSpec("events", "ts")))
    // a non-empty directory where CURRENT goes: the first run fails to publish
    val ptr = Paths.get(cfg.targetRoot, "r_resume_state", "CURRENT")
    Files.createDirectories(ptr.resolve("blocker"))
    assert(CopyJob.run(spark, cfg).isInstanceOf[Failed])
    graft.FsUtil.deleteRecursively(ptr)
    assert(CopyJob.run(spark, cfg.copy(resumeFromStaging = true)) == Copied)
    assert(CopyJob.run(spark, cfg) == NoNewData)
    assert(Files.list(Paths.get(cfg.stateDir)).count() == 1)
  }

  test("a stale tmp_data never leaks into a TempSwap publish (E2)") {
    val cfg = freshCfg(Seq(TableSpec("r", FromSpec("region"), "r_stale", publishMode = TempSwap)))
    val region = Tables(spark, sf(), "region")
    val tmp = Paths.get(cfg.targetRoot, "r_stale", "tmp_data")
    region.withColumn("r_regionkey", region("r_regionkey") + 100).write.parquet(tmp.toString)
    assert(CopyJob.run(spark, cfg) == Copied)
    assert(rows(spark.read.parquet(s"${cfg.targetRoot}/r_stale/data")) == rows(region))
    assert(!Files.exists(tmp))
  }

  test("ViewSwitch and TempSwap publish the trimmed source rows with the manifest's schema") {
    val padded = "SELECT n_nationkey, concat('  ', n_name, ' ') AS n_name, n_regionkey FROM nation"
    val cfg = freshCfg(Seq(
      TableSpec("vs", FromSpec("vs", query = Some(padded)), "n_vs"),
      TableSpec("ts", FromSpec("ts", query = Some(padded)), "n_ts", publishMode = TempSwap)))
    assert(CopyJob.run(spark, cfg) == Copied)
    val source = Tables(spark, sf(), "nation")
      .selectExpr("n_nationkey", "concat('  ', n_name, ' ') AS n_name", "n_regionkey")
    val trimmed = Staging.applyAutoTrim(source)
    val manifest = {
      val dir = Files.createTempDirectory("fidelity").toString
      Staging.stage(source, dir)
      Staging.readManifest(dir).get
    }
    Seq(Publish.readCurrent(spark, cfg.targetRoot, "n_vs"),
      spark.read.parquet(s"${cfg.targetRoot}/n_ts/data")).foreach { published =>
      assert(rows(published) == rows(trimmed))
      assert(shape(published.schema) == shape(manifest.schema))
    }
    assert(rows(trimmed) != rows(source))   // the padding was there to trim
  }

  test("end-to-end copy into a live JDBC database (C3/C7 via graft-jdbc)") {
    // the reference's whole pipeline shape — extract → stage → load into
    // a real database — with embedded Derby standing in for MonetDB
    val url = "jdbc:derby:memory:copyjobdb;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate(
        """CREATE TABLE nation_live (n_nationkey BIGINT, n_name VARCHAR(64),
           n_regionkey BIGINT, n_comment VARCHAR(256))""")
      finally st.close()
    } finally c.close()
    val cfg = freshCfg(Seq(
      TableSpec("nation", FromSpec("nation"), "nation_live",
        publishMode = JdbcLoad(url, batchSize = 7))))  // batch < rows: crosses flushes
    assert(CopyJob.run(spark, cfg) == Copied)
    val back = spark.read.jdbc(url, "nation_live", new java.util.Properties())
    assert(back.count() == 25)
    // second run overwrites (truncate-before-load), not duplicates
    assert(CopyJob.run(spark, cfg) == Copied)
    assert(spark.read.jdbc(url, "nation_live", new java.util.Properties()).count() == 25)
  }

  test("a JdbcLoad into a missing target table fails loudly: no create, no state advance") {
    val url = "jdbc:derby:memory:missingdb;create=true"
    def derby[T](f: java.sql.Statement => T): T = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); try f(st) finally st.close() } finally c.close()
    }
    def tableExists(): Boolean = derby { st =>
      val rs = st.executeQuery(
        "SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME = 'REGION_GONE'")
      rs.next(); rs.getLong(1) > 0
    }
    derby(_.executeUpdate(
      "CREATE TABLE region_gone (r_regionkey BIGINT, r_name VARCHAR(64), r_comment VARCHAR(256))"))
    val cfg = freshCfg(Seq(
      TableSpec("region", FromSpec("region"), "region_gone", publishMode = JdbcLoad(url))),
      trigger = Some(TriggerSpec("events", "ts")))
    assert(CopyJob.run(spark, cfg) == Copied)
    // the next run's trigger copies, but the target table is gone (D3
    // DDL is the caller's step: the load must not create it)
    val statePath = rewindWatermark(cfg)
    val state0 = Files.readString(statePath)
    derby(_.executeUpdate("DROP TABLE region_gone"))
    CopyJob.run(spark, cfg) match {
      case Failed(reason, _) => assert(reason.startsWith("load region: "), reason)
      case other => fail(s"expected Failed, got $other")
    }
    assert(!tableExists(), "the load created the missing target table")
    assert(Files.readString(statePath) == state0)
  }

  test("projection + query sources (A2/A3)") {
    val cfg = freshCfg(Seq(
      TableSpec("proj", FromSpec("nation", columns = Some(Seq("n_nationkey", "n_name"))), "proj_out"),
      TableSpec("qry", FromSpec("q",
        query = Some("SELECT r_name, count(*) AS n FROM region GROUP BY r_name")), "qry_out")))
    assert(CopyJob.run(spark, cfg) == Copied)
    val proj = Publish.readCurrent(spark, cfg.targetRoot, "proj_out")
    assert(proj.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(Publish.readCurrent(spark, cfg.targetRoot, "qry_out").count() == 5)
  }

  test("empty-source guard fails the whole job before any copy (F1)") {
    val cfg = freshCfg(Seq(
      TableSpec("good", FromSpec("nation"), "good_out"),
      TableSpec("empty", FromSpec("e",
        query = Some("SELECT * FROM nation WHERE n_nationkey < 0")), "empty_out")))
    val r = CopyJob.run(spark, cfg)
    assert(r.isInstanceOf[Failed])
    assert(r.exitCode == 1)
    // nothing published — guard ran before phase 1
    assert(Publish.currentVersion(cfg.targetRoot, "good_out").isEmpty)
  }

  test("a zero-row parquet source fails F1 from its footers, with no Spark job") {
    val src = Files.createTempDirectory("f1-src")
    Tables(spark, sf(), "nation").limit(0).write.parquet(src.resolve("nation.parquet").toString)
    val cfg = freshCfg(Seq(
      TableSpec("good", FromSpec("region"), "good_out"),
      TableSpec("empty", FromSpec("nation"), "empty_out"))).copy(sourceDir = src.toString)
    Files.createSymbolicLink(src.resolve("region.parquet"), Paths.get(sf(), "region.parquet").toAbsolutePath)
    val (r, jobs) = JobCount(spark, "f1-zero-row")(CopyJob.run(spark, cfg))
    assert(r == Failed("empty source tables: empty"))
    assert(jobs == 0, s"F1 ran $jobs Spark jobs")
    assert(Publish.currentVersion(cfg.targetRoot, "good_out").isEmpty)
  }

  test("allowEmpty permits empty tables (F1 override)") {
    val cfg = freshCfg(Seq(
      TableSpec("empty", FromSpec("e",
        query = Some("SELECT * FROM nation WHERE n_nationkey < 0")), "empty_out",
        allowEmpty = true)))
    assert(CopyJob.run(spark, cfg) == Copied)
    // a readable 0-row snapshot that keeps its schema (B4)
    val snap = Publish.readCurrent(spark, cfg.targetRoot, "empty_out")
    assert(snap.count() == 0)
    assert(shape(snap.schema) == shape(Tables(spark, sf(), "nation").schema))
  }

  test("trigger: first run copies, unchanged watermark → NoNewData, exit codes") {
    val cfg = freshCfg(Seq(TableSpec("ev", FromSpec("events"), "ev_out")),
      trigger = Some(TriggerSpec("events", "ts")))
    val r1 = CopyJob.run(spark, cfg)
    assert(r1 == Copied && r1.exitCode == 0)
    val r2 = CopyJob.run(spark, cfg)
    assert(r2 == NoNewData && r2.exitCode == 2)
  }

  test("switch-only republishes newest loaded version (E6)") {
    val cfg = freshCfg(Seq(TableSpec("nation", FromSpec("nation"), "n_out")))
    assert(CopyJob.run(spark, cfg) == Copied)
    val v1 = Publish.currentVersion(cfg.targetRoot, "n_out").get
    val r = CopyJob.run(spark, cfg.copy(switchOnly = true))
    assert(r == Copied)
    assert(Publish.currentVersion(cfg.targetRoot, "n_out").contains(v1))
  }

  test("retention across repeated runs keeps 2 versions (E5)") {
    val cfg = freshCfg(Seq(TableSpec("r", FromSpec("region"), "r_out", keepVersions = 2)))
    // distinct versions need distinct seconds; run() stamps per-run
    (1 to 3).foreach { _ => assert(CopyJob.run(spark, cfg) == Copied); Thread.sleep(1100) }
    assert(Publish.listVersions(cfg.targetRoot, "r_out").size <= 2)
  }

  test("temp-swap publish mode (E2)") {
    val cfg = freshCfg(Seq(TableSpec("r", FromSpec("region"), "r_swap",
      publishMode = TempSwap)))
    assert(CopyJob.run(spark, cfg) == Copied)
    assert(spark.read.parquet(s"${cfg.targetRoot}/r_swap/data").count() == 5)
  }
}
