package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.sources.Tables

/** A copying run reuses the published snapshot of a file-target table
  * whose source files are unchanged, and copies on any doubt. */
class SnapshotReuseSpec extends SparkSpec {
  import CopyJob._

  private val hourAgo = System.currentTimeMillis() - 3600000L

  /** A private copy of every source table, its files an hour old (well
    * outside the racy window), so a spec can change one. */
  private def sources(): Path = {
    val dir = Files.createTempDirectory("reuse_src")
    Tables.names.foreach { t =>
      val p = dir.resolve(s"$t.parquet")
      Files.copy(Paths.get(sf(), s"$t.parquet"), p)
      setMtime(p, hourAgo)
    }
    dir
  }

  private def setMtime(p: Path, ms: Long): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(ms))

  private def cfgOver(src: Path, tables: TableSpec*): JobConfig = {
    val base = Files.createTempDirectory("reuse_job")
    JobConfig(tables, src.toString, s"$base/staging", s"$base/target", s"$base/state")
  }

  /** Run `cfg`, asserting Copied, and return the Spark jobs it ran besides
    * resolving its sources (which reads footers on the driver and runs
    * none): a reused table runs none, a copied one its F1 probe and its
    * extract. F3 reads footers on the driver too. */
  private def jobs(cfg: JobConfig, group: String): Int = {
    val (r, n) = JobCount(spark, group, j => !JobCount.sourceResolution(j))(CopyJob.run(spark, cfg))
    assert(r == Copied)
    n
  }

  private def current(cfg: JobConfig, to: String): Path =
    Paths.get(Publish.snapshotDir(cfg.targetRoot, to,
      Publish.currentVersion(cfg.targetRoot, to).get))

  private def parts(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("an unchanged source is reused: no probe, extract or F3 job, a fresh run's rows") {
    val src = sources()
    val tables = Seq(
      TableSpec("nation", FromSpec("nation"), "n_reuse"),
      TableSpec("cust", FromSpec("customer", columns = Some(Seq("c_custkey", "c_name"))), "c_reuse"),
      TableSpec("region", FromSpec("region"), "r_reuse", publishMode = TempSwap))
    val cfg = cfgOver(src, tables: _*)
    assert(jobs(cfg, "reuse-first") > 0)
    val before = Seq("n_reuse", "c_reuse").map(to => to -> current(cfg, to)).toMap
    val swapped = parts(Publish.swapDir(cfg.targetRoot, "r_reuse"))
    val swappedAt = swapped.map(Files.getLastModifiedTime(_))

    assert(jobs(cfg, "reuse-rerun") == 0)
    val fresh = cfgOver(src, tables: _*)
    assert(jobs(fresh, "reuse-fresh") > 0)
    before.foreach { case (to, old) =>
      val now = current(cfg, to)
      assert(now != old && Publish.findNewestVersion(cfg.targetRoot, to)
        .contains(now.getFileName.toString.stripPrefix("v=")), to)
      // the new version's files are the old snapshot's, linked
      assert(parts(now).map(_.getFileName) == parts(old).map(_.getFileName))
      parts(now).zip(parts(old)).foreach { case (a, b) => assert(Files.isSameFile(a, b)) }
      assert(Publish.readRecord(now).isDefined &&
        Publish.readRecord(now) == Publish.readRecord(old), to)
      assert(rows(Publish.readCurrent(spark, cfg.targetRoot, to)) ==
        rows(Publish.readCurrent(spark, fresh.targetRoot, to)), to)
    }
    // TempSwap keeps its data dir as it is
    assert(parts(Publish.swapDir(cfg.targetRoot, "r_reuse")) == swapped)
    assert(swapped.map(Files.getLastModifiedTime(_)) == swappedAt)
    assert(!Files.exists(Paths.get(cfg.stagingRoot, "table_nation_n_reuse")))   // E7
  }

  test("a touched file of the same size copies") {
    val src = sources()
    val cfg = cfgOver(src, TableSpec("nation", FromSpec("nation"), "n_touch"))
    assert(jobs(cfg, "touch-1") > 0)
    assert(jobs(cfg, "touch-2") == 0)
    setMtime(src.resolve("nation.parquet"), hourAgo + 1000)
    assert(jobs(cfg, "touch-3") > 0)
    assert(jobs(cfg, "touch-4") == 0)
  }

  test("a replaced file copies and publishes the new rows") {
    val src = sources()
    val cfg = cfgOver(src, TableSpec("nation", FromSpec("nation"), "n_replace"))
    assert(jobs(cfg, "replace-1") > 0)
    val tmp = Files.createTempDirectory("reuse_replace").resolve("out").toString
    Tables(spark, sf(), "nation").filter("n_nationkey < 10").coalesce(1).write.parquet(tmp)
    val file = src.resolve("nation.parquet")
    Files.delete(file)
    Files.move(parts(Paths.get(tmp)).head, file)
    setMtime(file, hourAgo)
    assert(jobs(cfg, "replace-2") > 0)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "n_replace").count() == 10)
  }

  test("a changed FromSpec or autoTrim copies") {
    val src = sources()
    val t = TableSpec("nation", FromSpec("nation"), "n_spec")
    val cfg = cfgOver(src, t)
    assert(jobs(cfg, "spec-1") > 0)
    val projected = cfg.copy(tables = Seq(t.copy(from = FromSpec("nation",
      columns = Some(Seq("n_nationkey", "n_name"))))))
    assert(jobs(projected, "spec-2") > 0)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "n_spec").columns.toSeq ==
      Seq("n_nationkey", "n_name"))
    val untrimmed = projected.copy(tables = projected.tables.map(_.copy(autoTrim = false)))
    assert(jobs(untrimmed, "spec-3") > 0)
    assert(jobs(untrimmed, "spec-4") == 0)
  }

  test("a deleted _source_record copies") {
    val src = sources()
    val cfg = cfgOver(src, TableSpec("nation", FromSpec("nation"), "n_nofp"))
    assert(jobs(cfg, "nofp-1") > 0)
    Files.delete(current(cfg, "n_nofp").resolve(Publish.RecordFile))
    assert(jobs(cfg, "nofp-2") > 0)
    assert(Publish.readRecord(current(cfg, "n_nofp")).isDefined)
  }

  test("a CURRENT naming a missing version, or one without a fingerprint, copies") {
    val src = sources()
    val cfg = cfgOver(src, TableSpec("nation", FromSpec("nation"), "n_ptr"))
    assert(jobs(cfg, "ptr-1") > 0)
    val good = Publish.currentVersion(cfg.targetRoot, "n_ptr").get
    Publish.publishVersion(cfg.targetRoot, "n_ptr", "2001_01_01_00_00_00")   // no such dir
    assert(jobs(cfg, "ptr-2") > 0)
    // an older snapshot without a fingerprint, published by hand
    Files.delete(Paths.get(Publish.snapshotDir(cfg.targetRoot, "n_ptr", good),
      Publish.RecordFile))
    Publish.publishVersion(cfg.targetRoot, "n_ptr", good)
    assert(jobs(cfg, "ptr-3") > 0)
    assert(Publish.readCurrent(spark, cfg.targetRoot, "n_ptr").count() == 25)
  }

  /** Change one byte of `file` in place, keeping its length and mtime:
    * the first letter of the writer's name in its footer, `p` ↔ `P`. */
  private def flip(file: Path): Unit = {
    val mtime = Files.getLastModifiedTime(file)
    val bytes = Files.readAllBytes(file)
    val at = new String(bytes, "ISO-8859-1").toLowerCase.indexOf("parquet-cpp-arrow")
    assert(at >= 0, s"$file names no parquet-cpp-arrow writer")
    bytes(at) = (bytes(at) ^ 0x20).toByte
    Files.write(file, bytes)
    Files.setLastModifiedTime(file, mtime)
  }

  private def crcOf(cfg: JobConfig, to: String): Option[Long] =
    Publish.readRecord(current(cfg, to)).get.files.head.crc

  test("a racy file is content-checked by CRC32C") {
    val src = sources()
    val file = src.resolve("nation.parquet")
    val cfg = cfgOver(src, TableSpec("nation", FromSpec("nation"), "n_racy"))
    // an mtime ahead of every listing keeps the file racy
    setMtime(file, System.currentTimeMillis() + 600000L)
    assert(jobs(cfg, "racy-1") > 0)
    val crc = crcOf(cfg, "n_racy")
    assert(crc.isDefined)
    assert(jobs(cfg, "racy-2") == 0)              // unchanged: reused
    assert(crcOf(cfg, "n_racy") == crc)           // still racy, so still checked by content
    flip(file)                                    // same length, same mtime
    assert(jobs(cfg, "racy-3") > 0)
    assert(crcOf(cfg, "n_racy").exists(c => !crc.contains(c)))
    setMtime(file, hourAgo)
    assert(jobs(cfg, "racy-4") > 0)
    assert(crcOf(cfg, "n_racy").isEmpty)          // settled: length and mtime vouch for it
    assert(jobs(cfg, "racy-5") == 0)
  }

  test("a racy file verified once it settles is recorded as settled") {
    val src = sources()
    val file = src.resolve("nation.parquet")
    val cfg = cfgOver(src, TableSpec("nation", FromSpec("nation"), "n_settle"))
    val mtime = System.currentTimeMillis() - 500L
    setMtime(file, mtime)
    assert(jobs(cfg, "settle-1") > 0)
    assert(crcOf(cfg, "n_settle").isDefined)
    Thread.sleep(math.max(0L, mtime + CopyJob.RacyWindowMs + 200L - System.currentTimeMillis()))
    assert(jobs(cfg, "settle-2") == 0)
    assert(crcOf(cfg, "n_settle").isEmpty)
    assert(jobs(cfg, "settle-3") == 0)
  }

  test("a racy file changed during its extract is never reused") {
    val src = sources()
    val file = src.resolve("nation.parquet")
    val mtime = System.currentTimeMillis() + 600000L
    setMtime(file, mtime)
    val path = file.toString
    // a deterministic UDF that changes the file's content, as another
    // writer might, while the extract reads it
    spark.udf.register("racy_touch", (k: Long) => {
      val raf = new java.io.RandomAccessFile(path, "rw")
      try {
        val bytes = new Array[Byte](raf.length.toInt)
        raf.readFully(bytes)
        val at = new String(bytes, "ISO-8859-1").indexOf("parquet-cpp-arrow")
        if (at >= 0) { raf.seek(at); raf.write('P') }
      } finally raf.close()
      Files.setLastModifiedTime(Paths.get(path), FileTime.fromMillis(mtime))
      k
    })
    val cfg = cfgOver(src, TableSpec("t", FromSpec("t", query = Some(
      "SELECT racy_touch(n_nationkey) AS k FROM nation")), "t_touched"))
    assert(jobs(cfg, "touched-1") > 0)
    assert(Publish.readRecord(current(cfg, "t_touched")).isEmpty)
    assert(jobs(cfg, "touched-2") > 0)             // no record: copies again
    assert(Publish.readRecord(current(cfg, "t_touched")).isDefined)   // read what it hashed
    assert(jobs(cfg, "touched-3") == 0)
  }

  test("a source that is not files, or a non-deterministic query, copies") {
    val src = sources()
    val cfg = cfgOver(src,
      TableSpec("values", FromSpec("v", query = Some(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(k, s)")), "v_out"),
      TableSpec("sample", FromSpec("s", query = Some(
        "SELECT n_nationkey FROM nation WHERE rand() < 2")), "s_out"),
      TableSpec("stamped", FromSpec("t", query = Some(
        "SELECT n_nationkey, current_timestamp() AS at FROM nation")), "t_out"))
    assert(jobs(cfg, "volatile-1") > 0)
    val first = Seq("v_out", "s_out", "t_out").map(to => to -> current(cfg, to)).toMap
    assert(jobs(cfg, "volatile-2") > 0)
    first.foreach { case (to, prev) =>
      val now = current(cfg, to)
      assert(Publish.readRecord(now).isEmpty, to)
      assert(!Files.isSameFile(parts(now).head, parts(prev).head), s"$to was not copied")
    }
  }

  test("an A3 query depends on the tables it reads: reused after an events change, " +
      "copied after a customer change") {
    val src = sources()
    val cfg = cfgOver(src, TableSpec("q", FromSpec("q", query = Some(
      "SELECT c_nationkey, count(*) AS n FROM orders JOIN customer " +
        "ON o_custkey = c_custkey GROUP BY c_nationkey")), "q_out"))
    assert(jobs(cfg, "a3-1") > 0)
    setMtime(src.resolve("events.parquet"), hourAgo + 1000)
    assert(jobs(cfg, "a3-2") == 0)
    setMtime(src.resolve("customer.parquet"), hourAgo + 1000)
    assert(jobs(cfg, "a3-3") > 0)
    // a subquery's tables count too
    val sub = cfgOver(src, TableSpec("sub", FromSpec("sub", query = Some(
      "SELECT n_name FROM nation WHERE n_regionkey IN (SELECT r_regionkey FROM region)")),
      "sub_out"))
    assert(jobs(sub, "a3-4") > 0)
    setMtime(src.resolve("region.parquet"), hourAgo + 1000)
    assert(jobs(sub, "a3-5") > 0)
  }

  test("--resume of a reuse recorded for a table that is now a live-database target fails") {
    val cfg = cfgOver(sources(), TableSpec("region", FromSpec("region"), "region_now_live",
      publishMode = JdbcLoad("jdbc:derby:memory:reuse_resume;create=true")))
    Staging.recordReuse(Paths.get(cfg.stagingRoot, "table_region_region_now_live").toString,
      Paths.get(cfg.targetRoot, "region_now_live", "v=2001_01_01_00_00_00"))
    CopyJob.run(spark, cfg.copy(resumeFromStaging = true)) match {
      case Failed(reason, _) => assert(reason.startsWith("load region: staging records a reuse"), reason)
      case other => fail(s"expected Failed, got $other")
    }
  }

  test("a live-database target reloads on every copying run") {
    val url = "jdbc:derby:memory:reusedb;create=true"
    def derby[T](f: java.sql.Statement => T): T = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); try f(st) finally st.close() } finally c.close()
    }
    derby(_.executeUpdate(
      "CREATE TABLE region_reload (r_regionkey BIGINT, r_name VARCHAR(64), r_comment VARCHAR(256))"))
    val cfg = cfgOver(sources(),
      TableSpec("region", FromSpec("region"), "region_reload", publishMode = JdbcLoad(url)))
    assert(jobs(cfg, "jdbc-1") > 0)
    derby(_.executeUpdate("INSERT INTO region_reload VALUES (99, 'sentinel', '')"))
    assert(jobs(cfg, "jdbc-2") > 0)
    assert(derby { st =>
      val rs = st.executeQuery("SELECT COUNT(*) FROM region_reload"); rs.next(); rs.getLong(1)
    } == 5)
  }
}
