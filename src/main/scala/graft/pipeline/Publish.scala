package graft.pipeline

import java.io.IOException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.ParquetMeta

/** Versioned publish / view switch / retention GC (SURVEY.md §2.E).
  *
  * The reference's signature capability: load into a versioned table
  * `name_<yyyy_MM_dd_HH_mm_ss>` (`MonetDBTable.java:31-43`), then repoint
  * a stable view at the newest version in one transaction
  * (`MonetDBUtil.java:442-529`), keeping the current + one backup version
  * (`CopyTool.java:554-602`).
  *
  * Spark-native layout: each target table is a directory of immutable
  * snapshot subdirs plus an atomically-replaced CURRENT pointer file —
  * readers resolve the pointer then read an immutable snapshot, which
  * gives the same near-zero-downtime switch without any table lock:
  * {{{
  *   <root>/<table>/v=<version>/   (immutable parquet snapshots)
  *   <root>/<table>/CURRENT        (pointer: the published version)
  * }}}
  * A snapshot, like the reference's `COPY INTO` of the CSV it staged
  * (`CopyTool.java:756-870`), is the staged files as they are: phase 2
  * places them and runs no Spark job. A snapshot may hold a
  * [[SourceRecord]] of the source files it was copied from, in segments:
  * the part files of one staged write and the source files that write
  * read. A later run whose sources still match every segment places those
  * part files again, hard-linked, and extracts only the files the source
  * gained.
  */
object Publish {

  private val VersionFmt = DateTimeFormatter.ofPattern("yyyy_MM_dd_HH_mm_ss")
  /** Same shape the reference stamps (`CopyTool.java:216-224`) and
    * discovers by regex (`CopyTool.java:64,513-548`). */
  val VersionPattern = "[0-9]{4}(_[0-9]{2}){5}".r

  /** Pure stamp in the reference's version shape — format only, no
    * issue-order guarantee (that's [[newVersion]]'s job). */
  def versionStamp(now: LocalDateTime): String = now.format(VersionFmt)

  /** Strictly-increasing version issue. The second-granular stamp means
    * two runs inside one wall-clock second would mint the SAME version
    * (the reference has the identical gap, `CopyTool.java:216-224`) —
    * the second run would then overwrite the first's "immutable"
    * snapshot dir in place while readers may hold the pointer to it.
    * On collision the version bumps one second past the last issued
    * (lexicographic order == time order for this format, so
    * monotonicity is preserved); JVM-global, since the fleet runner
    * drives every config through one driver process. */
  private var lastIssued = ""
  def newVersion(now: LocalDateTime = LocalDateTime.now()): String = synchronized {
    val stamped = versionStamp(now)
    val v =
      if (stamped > lastIssued) stamped
      else LocalDateTime.parse(lastIssued, VersionFmt).plusSeconds(1).format(VersionFmt)
    lastIssued = v
    v
  }

  private def tableDir(root: String, table: String): Path = Paths.get(root, table)
  def snapshotDir(root: String, table: String, version: String): String =
    tableDir(root, table).resolve(s"v=$version").toString
  private def currentPtr(root: String, table: String): Path =
    tableDir(root, table).resolve("CURRENT")
  /** The stable data dir of a [[tempSwapPublish]] table. */
  def swapDir(root: String, table: String): Path = tableDir(root, table).resolve("data")

  /** Load a snapshot version (phase 2) from `files`: a staging's parquet
    * files, the part files it reuses from an earlier snapshot, its source
    * record, each placed as it is, with no decode or re-encode. Immutable
    * once written. */
  def writeSnapshot(files: Seq[Path], root: String, table: String, version: String): Unit =
    place(files, Paths.get(snapshotDir(root, table, version)))

  /** Replace `to` with a dir of `files`, each hard-linked under its own
    * name, or copied where the file system cannot link it. Never a move:
    * the staging stays readable for `--resume` until the job succeeds.
    * Every placed file is immutable once written (a parquet write replaces
    * files, it never rewrites one; a record is replaced by a move), so
    * sharing them is safe. */
  private[pipeline] def place(files: Seq[Path], to: Path): Unit = {
    graft.FsUtil.deleteRecursively(to)
    Files.createDirectories(to)
    files.foreach { p =>
      val q = to.resolve(p.getFileName)
      try Files.createLink(q, p) catch {
        case _: IOException | _: UnsupportedOperationException => Files.copy(p, q)
      }
    }
  }

  /** The files of `dir`, sorted by name: a staging's parquet output, part
    * and checksum files and `_SUCCESS`. */
  def filesIn(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.getFileName.toString)
    finally ls.close()
  }

  /** A source file as a listing saw it. `crc` is the CRC32C of its content
    * while its mtime lay within the racy window of the listings that
    * vouched for it; None once one of them saw it settled, when length and
    * mtime vouch for it alone. */
  final case class SourceFile(path: String, length: Long, mtime: Long, crc: Option[Long])

  /** The part files one staged write produced and the source files it read. */
  final case class Segment(parts: Seq[String], sources: Seq[SourceFile])

  /** What the files of a snapshot, or of a kept staging, were copied from:
    * the extract's identity (its FromSpec and the settings that shape the
    * staged rows), the schema of every relation its plan reads, in plan
    * order, and its segments, oldest first. */
  final case class SourceRecord(from: CopyJob.FromSpec, autoTrim: Boolean, allowEmpty: Boolean,
      schemas: Seq[String], segments: Seq[Segment]) {
    def files: Seq[SourceFile] = segments.flatMap(_.sources)
  }

  /** The name of the source record in a snapshot or staging dir; Spark's
    * reader skips it, as it skips every file whose name starts with `_`. */
  val RecordFile = "_source_record"

  private val formats = org.json4s.DefaultFormats

  /** The record `dir` holds; None when it holds none or one this program
    * cannot read (the whole-table fingerprint earlier versions wrote under
    * another name counts as none). */
  def readRecord(dir: Path): Option[SourceRecord] = {
    val p = dir.resolve(RecordFile)
    if (!Files.isRegularFile(p)) None
    else scala.util.Try(org.json4s.jackson.JsonMethods.parse(Files.readString(p))
      .extract[SourceRecord](formats, implicitly[Manifest[SourceRecord]])).toOption
  }

  /** Write `record` into `dir`, replacing the file by a move, never in
    * place: a record may be a hard link shared with another snapshot. */
  def writeRecord(dir: Path, record: SourceRecord): Unit = {
    val tmp = dir.resolve(s"$RecordFile.tmp")
    Files.writeString(tmp, org.json4s.jackson.Serialization.write(record)(formats))
    Files.move(tmp, dir.resolve(RecordFile), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** E4 newest-version discovery: list + lexicographic max (version string
    * ordering == timestamp ordering for this format). Lazy listing — only
    * directory names, never file contents. */
  def findNewestVersion(root: String, table: String): Option[String] =
    listVersions(root, table).sorted(Ordering[String].reverse).headOption

  def listVersions(root: String, table: String): Seq[String] = {
    val dir = tableDir(root, table)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator.asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v="))
      .filter(v => VersionPattern.pattern.matcher(v).matches)
      .toSeq
  }

  /** E3/D11 view switch: atomically repoint CURRENT (write-temp + ATOMIC_MOVE
    * — the analogue of the reference's single-transaction view swap). */
  def publishVersion(root: String, table: String, version: String): Unit = {
    val dir = tableDir(root, table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".CURRENT.tmp")
    Files.writeString(tmp, version)
    Files.move(tmp, currentPtr(root, table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `--switch-only` (E6): discover newest loaded version and publish it
    * without touching data. */
  def publishNewest(root: String, table: String): Option[String] = {
    val newest = findNewestVersion(root, table)
    newest.foreach(publishVersion(root, table, _))
    newest
  }

  def currentVersion(root: String, table: String): Option[String] = {
    val p = currentPtr(root, table)
    if (Files.isRegularFile(p)) Some(Files.readString(p).trim) else None
  }

  /** Read the published snapshot (what a view resolves to). */
  def readCurrent(spark: SparkSession, root: String, table: String): DataFrame = {
    val v = currentVersion(root, table).getOrElse(
      throw new IllegalStateException(s"table '$table' has no published version"))
    ParquetMeta.read(spark, snapshotDir(root, table, v))
  }

  /** E5 retention GC: keep the newest `keep` versions (reference default:
    * current + 1 backup, `CopyTool.java:578-580`), never delete the
    * published one. Returns dropped versions. */
  def gcOldVersions(root: String, table: String, keep: Int = 2): Seq[String] = {
    val keepSet = listVersions(root, table).sorted(Ordering[String].reverse)
      .take(keep).toSet ++ currentVersion(root, table).toSet
    val drop = listVersions(root, table).filterNot(keepSet.contains)
    drop.foreach(v => graft.FsUtil.deleteRecursively(Paths.get(snapshotDir(root, table, v))))
    drop.sorted
  }

  /** E2 temp-swap publish (the non-versioned mode): place `files`, as
    * [[writeSnapshot]] does, in a cleared `tmp_data` dir, then swap it
    * into the stable data dir. Same drop-then-swap window as the
    * reference (`CopyTool.java:1107-1124`) — documented, and the
    * versioned+pointer mode above is the preferred atomic path. */
  def tempSwapPublish(files: Seq[Path], root: String, table: String): Unit = {
    val fin = swapDir(root, table)
    val tmp = fin.resolveSibling("tmp_data")
    place(files, tmp)
    graft.FsUtil.deleteRecursively(fin)
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
  }
}
