package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.SparkListenerJobStart
import graft.SparkSpec
import graft.sources.Tables

/** Helpers shared by the specs of a copying run's per-file source record. */
trait CopySpecSupport extends SparkSpec {
  import CopyJob._

  protected val hourAgo: Long = System.currentTimeMillis() - 3600000L

  protected def setMtime(p: Path, ms: Long): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(ms))

  /** A private copy of every source table but those in `except`, its
    * files an hour old (well outside the racy window). */
  protected def sources(except: Set[String] = Set.empty): Path = {
    val dir = Files.createTempDirectory("append_src")
    Tables.names.filterNot(except).foreach { t =>
      val p = dir.resolve(s"$t.parquet")
      Files.copy(Paths.get(sf(), s"$t.parquet"), p)
      setMtime(p, hourAgo)
    }
    dir
  }

  protected def cfgOver(src: Path, tables: TableSpec*): JobConfig = {
    val base = Files.createTempDirectory("append_job")
    JobConfig(tables, src.toString, s"$base/staging", s"$base/target", s"$base/state")
  }

  /** Write `df` as one parquet file at `to`, its mtime `mtime`. */
  protected def writeFile(df: org.apache.spark.sql.DataFrame, to: Path, mtime: Long): Unit = {
    val tmp = Files.createTempDirectory("append_part").resolve("out")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    Files.createDirectories(to.getParent)
    Files.move(part, to)
    setMtime(to, mtime)
  }

  /** Run `cfg`, asserting Copied, and return its Spark jobs by the phase
    * they are tagged with. */
  protected def jobsByPhase(cfg: JobConfig, group: String): Map[String, Int] = {
    val phases = new ConcurrentLinkedQueue[String]()
    def phase(j: SparkListenerJobStart) =
      Option(j.properties).flatMap(p => Option(p.getProperty(PhaseTag))).getOrElse("untagged")
    val (r, _) = JobCount(spark, group, j => phases.add(phase(j)))(CopyJob.run(spark, cfg))
    assert(r == Copied, s"$group: $r")
    phases.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  protected def extracts(cfg: JobConfig, group: String): Int =
    jobsByPhase(cfg, group).getOrElse("extract", 0)

  protected def current(cfg: JobConfig, to: String): Path =
    Paths.get(Publish.snapshotDir(cfg.targetRoot, to, Publish.currentVersion(cfg.targetRoot, to).get))

  protected def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Where a table's published files are: CURRENT's snapshot or, for a
    * TempSwap table, its data dir. */
  protected def publishedDir(cfg: JobConfig, t: TableSpec): Path = t.publishMode match {
    case TempSwap => Publish.swapDir(cfg.targetRoot, t.to)
    case _ => current(cfg, t.to)
  }

  protected def record(cfg: JobConfig, t: TableSpec): Publish.SourceRecord =
    Publish.readRecord(publishedDir(cfg, t)).get

  /** The rows of the part files of a table's newest segment. */
  protected def newestSegmentRows(cfg: JobConfig, t: TableSpec): Long = {
    val dir = publishedDir(cfg, t)
    spark.read.parquet(record(cfg, t).segments.last.parts.map(p => dir.resolve(p).toString): _*)
      .count()
  }
}

/** A copying run extracts only the source files that changed: a snapshot
  * is built by appending the extract of new files to the part files it
  * keeps, and copies whole on any doubt. */
class AppendSpec extends CopySpecSupport {
  import CopyJob._

  /** A source dir whose `nation` is a dir of part files, to which a spec
    * appends with [[append]]. */
  private def appendable(): Path = {
    val src = sources(except = Set("nation"))
    append(src, 0)
    src
  }

  /** Add part `k` to `nation`: its 25 rows, keys shifted by 100·k and
    * names padded (autoTrim has work), an hour old. */
  private def append(src: Path, k: Int): Path = {
    val to = src.resolve("nation.parquet").resolve(f"part-$k%03d.parquet")
    writeFile(Tables(spark, sf(), "nation").selectExpr(s"n_nationkey + ${100 * k} AS n_nationkey",
      "concat(' ', n_name, ' ') AS n_name", "n_regionkey"), to, hourAgo + k * 1000L)
    to
  }

  private val tables = Seq(
    TableSpec("vs", FromSpec("nation", columns = Some(Seq("n_nationkey", "n_name"))), "n_vs"),
    TableSpec("ts", FromSpec("nation"), "n_ts", publishMode = TempSwap))

  private def key(p: Path): AnyRef =
    Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey

  private def freshRows(src: Path, t: TableSpec): Seq[String] = {
    val fresh = cfgOver(src, t)
    assert(CopyJob.run(spark, fresh) == Copied)
    rows(spark.read.parquet(publishedDir(fresh, t).toString))
  }

  test("appended cycles publish a fresh copy's rows, ViewSwitch and TempSwap") {
    val src = appendable()
    val cfg = cfgOver(src, tables: _*)
    assert(extracts(cfg, "append-0") == 2)
    (1 to 5).foreach { k =>
      val before = tables.map(t => Publish.filesIn(publishedDir(cfg, t))
        .filter(_.getFileName.toString.startsWith("part-")).map(p => p.getFileName -> key(p)))
      append(src, k)
      assert(extracts(cfg, s"append-$k") == 2, s"cycle $k")   // one delta per table
      tables.zip(before).foreach { case (t, old) =>
        val r = record(cfg, t)
        assert(r.segments.size == k + 1, s"${t.id} cycle $k")
        assert(newestSegmentRows(cfg, t) == 25, s"${t.id} cycle $k")
        // the kept part files are the old snapshot's, linked
        val dir = publishedDir(cfg, t)
        old.foreach { case (name, id) => assert(key(dir.resolve(name)) == id, s"${t.id} $name") }
        assert(rows(spark.read.parquet(dir.toString)) == freshRows(src, t), s"${t.id} cycle $k")
      }
    }
    assert(extracts(cfg, "append-none") == 0)   // no new file: a whole reuse
    tables.foreach(t => assert(record(cfg, t).segments.size == 6))
  }

  test("each doubt copies whole, into one segment") {
    val src = appendable()
    val t = tables.head
    val cfg = cfgOver(src, t)
    def copiedWhole(group: String, change: => Unit, spec: JobConfig = cfg): Unit = {
      val st = spec.tables.head
      append(src, 90)                          // a new file, so a clean run would append
      change
      assert(extracts(spec, group) == 1, group)
      assert(record(spec, st).segments.size == 1, group)
      assert(rows(Publish.readCurrent(spark, spec.targetRoot, st.to)) == freshRows(src, st), group)
      Files.deleteIfExists(src.resolve("nation.parquet/part-090.parquet"))
      assert(extracts(spec, s"$group-again") == 1, group)   // a file is gone
      append(src, 91)
      assert(extracts(spec, s"$group-append") == 1, group)
      assert(record(spec, st).segments.size == 2, group)
      Files.delete(src.resolve("nation.parquet/part-091.parquet"))
      assert(extracts(spec, s"$group-reset") == 1, group)
    }
    assert(extracts(cfg, "doubt-0") == 1)
    copiedWhole("changed", setMtime(src.resolve("nation.parquet/part-000.parquet"), hourAgo + 7))
    copiedWhole("missing", {
      append(src, 1); assert(extracts(cfg, "missing-pre") == 1)
      Files.delete(src.resolve("nation.parquet/part-001.parquet"))
    })
    // a file that sorts first with one more column changes the relation's schema
    copiedWhole("schema", writeFile(Tables(spark, sf(), "nation").limit(3)
      .selectExpr("n_nationkey + 1000 AS n_nationkey", "n_name", "n_regionkey",
        "1 AS n_extra"), src.resolve("nation.parquet/part-!.parquet"), hourAgo))
    Files.delete(src.resolve("nation.parquet/part-!.parquet"))
    assert(extracts(cfg, "schema-restored") == 1)
    val untrimmed = cfg.copy(tables = Seq(t.copy(autoTrim = false)))
    copiedWhole("identity", (), untrimmed)
  }

  test("a plan that is not projections and filters over one parquet relation copies whole") {
    val src = appendable()
    val t = TableSpec("agg", FromSpec("agg", query = Some(
      "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey")), "n_agg")
    val cfg = cfgOver(src, t)
    assert(extracts(cfg, "agg-0") > 0)
    assert(extracts(cfg, "agg-1") == 0)   // unchanged: a whole reuse
    append(src, 1)
    assert(extracts(cfg, "agg-2") > 0)
    assert(record(cfg, t).segments.size == 1)
    assert(rows(Publish.readCurrent(spark, cfg.targetRoot, t.to)) == freshRows(src, t))
  }

  test(s"a record of MaxSegments segments is rewritten whole") {
    val src = appendable()
    val t = TableSpec("seg", FromSpec("nation"), "n_seg")
    val cfg = cfgOver(src, t)
    assert(extracts(cfg, "seg-0") == 1)
    (1 until MaxSegments).foreach { k =>
      append(src, k)
      assert(extracts(cfg, s"seg-$k") == 1)
    }
    assert(record(cfg, t).segments.size == MaxSegments)
    append(src, MaxSegments)
    assert(extracts(cfg, "seg-max") == 1)
    assert(record(cfg, t).segments.size == 1)
    assert(Publish.readCurrent(spark, cfg.targetRoot, t.to).count() == 25L * (MaxSegments + 1))
  }

  test("an append whose publish fails is completed by --resume") {
    val src = appendable()
    val cfg = cfgOver(src, tables: _*)
    assert(CopyJob.run(spark, cfg) == Copied)
    append(src, 1)
    // a non-empty directory where the ViewSwitch table's next CURRENT is
    // written: its publish fails after every table's load
    val tmp = Paths.get(cfg.targetRoot, "n_vs", ".CURRENT.tmp")
    Files.createDirectories(tmp.resolve("blocker"))
    assert(CopyJob.run(spark, cfg).isInstanceOf[Failed])
    graft.FsUtil.deleteRecursively(tmp)
    val resumed = jobsByPhase(cfg.copy(resumeFromStaging = true), "resume-append")
    assert(!resumed.contains("extract"))
    tables.foreach { t =>
      assert(record(cfg, t).segments.size == 2, t.id)
      assert(rows(spark.read.parquet(publishedDir(cfg, t).toString)) == freshRows(src, t), t.id)
    }
    append(src, 2)
    assert(extracts(cfg, "after-resume") == 2)
    tables.foreach(t => assert(record(cfg, t).segments.size == 3, t.id))
  }

  test("a live target with an unchanged source reloads its kept extract") {
    val url = "jdbc:derby:memory:append_live;create=true"
    def derby[T](f: java.sql.Statement => T): T = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); try f(st) finally st.close() } finally c.close()
    }
    derby(_.executeUpdate(
      "CREATE TABLE region_kept (r_regionkey BIGINT, r_name VARCHAR(64), r_comment VARCHAR(256))"))
    def count = derby { st =>
      val rs = st.executeQuery("SELECT COUNT(*) FROM region_kept"); rs.next(); rs.getLong(1)
    }
    val src = sources()
    val t = TableSpec("region", FromSpec("region"), "region_kept", publishMode = JdbcLoad(url))
    val cfg = cfgOver(src, t)
    assert(extracts(cfg, "live-1") == 1)
    val staging = Paths.get(cfg.stagingRoot, "table_region_region_kept")
    assert(Publish.readRecord(staging).isDefined && Staging.readManifest(staging.toString).isDefined)
    derby(_.executeUpdate("INSERT INTO region_kept VALUES (99, 'sentinel', '')"))
    val second = jobsByPhase(cfg, "live-2")
    assert(!second.contains("extract") && second.getOrElse("load", 0) > 0, second)
    assert(count == 5)
    setMtime(src.resolve("region.parquet"), hourAgo + 1000)
    assert(extracts(cfg, "live-3") == 1)
    assert(count == 5)
    assert(!Files.exists(Paths.get(cfg.stateDir)) ||
      Files.list(Paths.get(cfg.stateDir)).count() == 0)   // nothing kept under stateDir
  }
}

/** Every Spark job of a copying run carries its phase and table id. */
class CopyJobTagSpec extends CopySpecSupport {
  import CopyJob._

  test("every job of a copying run carries its phase and table tags") {
    val url = "jdbc:derby:memory:tag_spec;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE region_tag (r_regionkey BIGINT, r_name VARCHAR(64), r_comment VARCHAR(256))")
    finally c.close()
    val tables = Seq(
      TableSpec("a1", FromSpec("nation"), "n_tag"),
      TableSpec("a2", FromSpec("customer", columns = Some(Seq("c_custkey", "c_name"))), "c_tag"),
      TableSpec("a3", FromSpec("a3", query = Some(
        "SELECT c_nationkey, count(*) AS n FROM orders JOIN customer " +
          "ON o_custkey = c_custkey GROUP BY c_nationkey")), "q_tag"),
      TableSpec("live", FromSpec("region"), "region_tag", publishMode = JdbcLoad(url)))
    val cfg = cfgOver(sources(), tables: _*).copy(trigger = Some(TriggerSpec("events", "ts")))
    val seen = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
    val (r, n) = JobCount(spark, "tags", { j =>
      val p = Option(j.properties)
      seen.add((p.flatMap(x => Option(x.getProperty(PhaseTag))),
        p.flatMap(x => Option(x.getProperty(TableTag)))))
      true
    })(CopyJob.run(spark, cfg))
    assert(r == Copied)
    val tags = seen.asScala.toSeq
    assert(n == tags.size && n > 0)
    assert(tags.forall { case (phase, table) => phase.isDefined && table.isDefined }, tags)
    val extracted = tags.collect { case (Some("extract"), Some(id)) => id }.toSet
    assert(extracted == tables.map(_.id).toSet, tags)
    assert(tags.contains((Some("load"), Some("live"))), tags)
    // the tags start no job: an unchanged rerun runs only the live reload
    assert(jobsByPhase(cfg.copy(trigger = None), "tags-again").keySet == Set("load"))
  }
}

/** A source column whose name holds a dot stages and publishes. */
class DottedColumnSpec extends CopySpecSupport {
  import CopyJob._

  test("a dotted string column stages and publishes, whole and projected") {
    val src = sources(except = Set("region"))
    writeFile(spark.range(3).selectExpr("id AS `r.key`", "concat(' r', id, ' ') AS `r.name`",
      "'x' AS plain"), src.resolve("region.parquet"), hourAgo)
    val whole = TableSpec("whole", FromSpec("region"), "r_whole")
    val projected = TableSpec("proj", FromSpec("region", columns = Some(Seq("r.name"))), "r_proj")
    val cfg = cfgOver(src, whole, projected)
    assert(CopyJob.run(spark, cfg) == Copied)
    val w = Publish.readCurrent(spark, cfg.targetRoot, "r_whole")
    assert(w.columns.toSeq == Seq("r.key", "r.name", "plain"))
    assert(rows(w) == Seq("[0,r0,x]", "[1,r1,x]", "[2,r2,x]"))
    val p = Publish.readCurrent(spark, cfg.targetRoot, "r_proj")
    assert(p.columns.toSeq == Seq("r.name"))
    assert(rows(p) == Seq("[r0]", "[r1]", "[r2]"))
  }
}
