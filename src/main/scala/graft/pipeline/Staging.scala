package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.{col, count, lit, trim}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import graft.sources.ParquetMeta

/** Durable staging between extract and load (SURVEY.md §2.B, §2.F3).
  *
  * The reference stages CSV + serialized schema + count file
  * (`CopyTool.java:659-747`); here the staged dataset is partitioned
  * parquet (schema travels in the footer) plus a tiny JSON manifest with
  * the row count and schema snapshot — the durable phase-1→phase-2
  * hand-off survives a crash between phases (§3.1). A `ViewSwitch` or
  * `TempSwap` load publishes the staged parquet files as they are; the
  * staging stays intact until the job succeeds. A staging dir holds all
  * its new version is made of: the extract (the whole source or only the
  * files it gained), the part files the version keeps from the published
  * snapshot, linked into `reused/`, and the version's source record. A
  * table that reuses its snapshot whole stages no data and records which
  * snapshot it reuses, so a resumed load replays the same decision. A
  * live-database target's staging is kept after the job, with its record,
  * as the extract a later run reloads when its source is unchanged.
  */
object Staging {

  final case class Manifest(count: Long, schemaJson: String) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** autoTrim (§1.3, default ON in the reference `CopyTable.java:72`):
    * trim string-typed columns. The reference trims *all* types after
    * stringification; with typed columns only strings can carry padding,
    * so this is semantics-preserving. One projection, whatever the names. */
  def applyAutoTrim(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.dataType == StringType)) df
    else df.select(df.schema.fields.toSeq.map { f =>
      val c = col(quoted(f.name))
      if (f.dataType == StringType) trim(c).as(f.name) else c
    }: _*)

  /** A reference to the column named `name`, dots and backticks included. */
  def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  private def manifestPath(dir: String): Path = Paths.get(dir, "_manifest.json")
  private def reusePath(dir: String): Path = Paths.get(dir, "_reused_snapshot")
  private def reusedDir(dir: String): Path = Paths.get(dir, "reused")
  private def dataPath(dir: String): String = s"$dir/data"
  /** The dir of a staging's parquet files. */
  def files(dir: String): Path = Paths.get(dataPath(dir))

  /** A validated staging dir: its manifest, its data (read once, the
    * input of a JDBC or MonetDB load) and its parquet files (what a
    * snapshot places). */
  final case class Staged(manifest: Manifest, data: DataFrame, files: Seq[Path])

  /** Stage an extract. Writes parquet (schema even for 0 rows — the B4
    * zero-row short-circuit is the loader skipping, not schema loss) and
    * the manifest. The row count is an observed metric of the write
    * itself, so staging is one Spark job with no read-back. Returns the
    * staged row count. */
  def stage(df: DataFrame, dir: String, autoTrim: Boolean = true): Long = {
    Files.deleteIfExists(reusePath(dir))   // first: a stale reuse must never win
    val out = if (autoTrim) applyAutoTrim(df) else df
    val rows = Observation()
    out.observe(rows, count(lit(1)).as("n")).write.mode("overwrite").parquet(dataPath(dir))
    val n = rows.get("n").asInstanceOf[Long]
    val json = s"""{"count":$n,"schema":${out.schema.json}}"""
    Files.createDirectories(Paths.get(dir))
    Files.writeString(manifestPath(dir), json)
    n
  }

  def readManifest(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else {
      val s = Files.readString(p)
      // minimal parse: {"count":N,"schema":{...}}
      val countR = """\{"count":(\d+),"schema":""".r
      countR.findPrefixMatchOf(s).map { m =>
        Manifest(m.group(1).toLong, s.substring(m.end, s.length - 1))
      }
    }
  }

  /** F3 staged-files validation, as the reference checks its staged file
    * against its count file before a load: manifest present, and every
    * staged file's footer, read on the driver, parses, has the manifest's
    * schema (names and types; parquet read-back is always nullable, so
    * nullability is not drift), and the footers' row counts sum to the
    * manifest's count. Throws with a precise reason on failure. Returns
    * the data it checked, so the load reads the staging once, and the
    * files it checked, so a snapshot copies exactly those. No Spark job. */
  def validate(spark: SparkSession, dir: String): Staged = {
    val m = readManifest(dir).getOrElse(
      throw new IllegalStateException(s"staging dir '$dir' has no manifest"))
    val data = read(spark, dir)
    val footers = ParquetMeta.footers(data)
    footers.foreach { case (f, footer) =>
      val s = ParquetMeta.schema(spark, f, footer)
      require(DataTypeUtils.equalsIgnoreNullability(s, m.schema),
        s"staged schema drift in '$dir': ${f.getPath.getName} has ${s.simpleString}, " +
          s"manifest ${m.schema.simpleString}")
    }
    val rows = ParquetMeta.rows(footers.map(_._2))
    require(rows == m.count,
      s"staged row count mismatch in '$dir': ${footers.size} files hold $rows rows, manifest ${m.count}")
    Staged(m, data, Publish.filesIn(files(dir)))
  }

  /** Clear what an earlier run left in `dir` besides staged data: the
    * manifest first, so a crash part way leaves a staging that fails F3,
    * then the whole-reuse mark, the source record and the reused part
    * files. */
  def reset(dir: String): Unit = {
    Seq(manifestPath(dir), reusePath(dir), Paths.get(dir, Publish.RecordFile))
      .foreach(Files.deleteIfExists)
    graft.FsUtil.deleteRecursively(reusedDir(dir))
  }

  /** Link `parts`, the part files the new version keeps from a published
    * snapshot, into the staging, so it holds all that version is made of
    * whatever becomes of that snapshot. */
  def reuse(dir: String, parts: Seq[Path]): Unit = Publish.place(parts, reusedDir(dir))

  /** The names of the part files a [[stage]] into `dir` wrote. */
  def parts(dir: String): Seq[String] = Publish.filesIn(files(dir)).map(_.getFileName.toString)
    .filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** Record that the table stages no data: its new version is the part
    * files [[reuse]] linked, all of the published snapshot `snapshot`. */
  def recordReuse(dir: String, snapshot: Path): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(reusePath(dir), snapshot.toString)
  }

  /** The snapshot a [[recordReuse]] recorded, if any. */
  def reusedSnapshot(dir: String): Option[Path] = {
    val p = reusePath(dir)
    if (Files.isRegularFile(p)) Some(Paths.get(Files.readString(p))) else None
  }

  /** What phase 1 left in a staging dir for phase 2: the part files it
    * reuses, its extract, F3-validated, unless it records a whole reuse of
    * `snapshot`, and its source record file. */
  final case class Prepared(reused: Seq[Path], staged: Option[Staged], snapshot: Option[Path],
      record: Option[Path]) {
    /** The files of the version it makes. */
    def files: Seq[Path] = reused ++ staged.toSeq.flatMap(_.files) ++ record
    /** A whole extract of no rows (the B4 zero-row short-circuit). */
    def empty: Boolean = reused.isEmpty && staged.exists(_.manifest.count == 0)
  }

  /** Read a staging dir for phase 2, validating its extract (F3). */
  def prepared(spark: SparkSession, dir: String): Prepared = {
    val snapshot = reusedSnapshot(dir)
    val reused = if (Files.isDirectory(reusedDir(dir))) Publish.filesIn(reusedDir(dir)) else Nil
    val record = Some(Paths.get(dir, Publish.RecordFile)).filter(Files.isRegularFile(_))
    Prepared(reused, if (snapshot.isEmpty) Some(validate(spark, dir)) else None, snapshot, record)
  }

  /** Read the staged dataset back (load-phase input). */
  def read(spark: SparkSession, dir: String): DataFrame =
    ParquetMeta.read(spark, dataPath(dir))

  /** E7 staging cleanup. */
  def cleanup(dir: String): Unit = graft.FsUtil.deleteRecursively(Paths.get(dir))
}
