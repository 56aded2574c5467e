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
  * `_source_fingerprint` of the source files it was copied from; a later
  * run whose sources have the same fingerprint places the files of that
  * snapshot instead of extracting again.
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

  /** Load a snapshot version (phase 2): the parquet files of `staged` (part
    * files, their `.crc` files, `_SUCCESS`, a `_source_fingerprint`), with
    * no decode or re-encode. `staged` is a staging dir or, for a reused
    * source, an earlier snapshot. Immutable once written. */
  def writeSnapshot(staged: Path, root: String, table: String, version: String): Unit =
    copyFiles(staged, Paths.get(snapshotDir(root, table, version)))

  /** Replace `to` with the tree under `from`, each file hard-linked, or
    * copied where the file system cannot link it. Never a move: the
    * staging stays readable for `--resume` until the job succeeds. Both
    * trees are immutable once written (a parquet write replaces files,
    * it never rewrites one), so sharing their files is safe. */
  private def copyFiles(from: Path, to: Path): Unit = {
    graft.FsUtil.deleteRecursively(to)
    Files.createDirectories(to.getParent)
    val walk = Files.walk(from)   // pre-order: each dir before its files
    try walk.iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectory(q)
      else try Files.createLink(q, p) catch {
        case _: IOException | _: UnsupportedOperationException => Files.copy(p, q)
      }
    } finally walk.close()
  }

  /** The name of a snapshot's source fingerprint; Spark's reader skips it,
    * as it skips every file whose name starts with `_`. */
  val FingerprintFile = "_source_fingerprint"

  def readFingerprint(snapshot: Path): Option[String] = {
    val p = snapshot.resolve(FingerprintFile)
    if (Files.isRegularFile(p)) Some(Files.readString(p)) else None
  }

  /** Write `fingerprint` into `dir`, a staging's files or a snapshot. */
  def writeFingerprint(dir: Path, fingerprint: String): Unit =
    Files.writeString(dir.resolve(FingerprintFile), fingerprint)

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

  /** E2 temp-swap publish (the non-versioned mode): place the staged
    * parquet files `staged` in a cleared `tmp_data` dir, then swap it
    * into the stable data dir. Same drop-then-swap window as the
    * reference (`CopyTool.java:1107-1124`) — documented, and the
    * versioned+pointer mode above is the preferred atomic path. */
  def tempSwapPublish(staged: Path, root: String, table: String): Unit = {
    val fin = swapDir(root, table)
    val tmp = fin.resolveSibling("tmp_data")
    copyFiles(staged, tmp)
    graft.FsUtil.deleteRecursively(fin)
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
  }
}
