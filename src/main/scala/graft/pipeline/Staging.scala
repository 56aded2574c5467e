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
  * staging stays intact until the job succeeds. A table whose published
  * snapshot is reused stages no data: its staging dir records which
  * snapshot it reuses, so a resumed load replays that decision.
  */
object Staging {

  final case class Manifest(count: Long, schemaJson: String) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** autoTrim (§1.3, default ON in the reference `CopyTable.java:72`):
    * trim string-typed columns. The reference trims *all* types after
    * stringification; with typed columns only strings can carry padding,
    * so this is semantics-preserving. */
  def applyAutoTrim(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == StringType) d.withColumn(f.name, trim(col(f.name))) else d
    }

  private def manifestPath(dir: String): Path = Paths.get(dir, "_manifest.json")
  private def reusePath(dir: String): Path = Paths.get(dir, "_reused_snapshot")
  private def dataPath(dir: String): String = s"$dir/data"
  /** The dir of a staging's parquet files. */
  def files(dir: String): Path = Paths.get(dataPath(dir))

  /** A validated staging dir: its manifest, its data (read once, the
    * input of a JDBC or MonetDB load) and the dir of its parquet files
    * (what a snapshot copies). */
  final case class Staged(manifest: Manifest, data: DataFrame, files: Path)

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
    Staged(m, data, files(dir))
  }

  /** Record, in place of staged data, that the table reuses the published
    * snapshot `snapshot`. The manifest is deleted first, so a crash in
    * between leaves a staging that fails F3 rather than one that resumes
    * stale data. */
  def recordReuse(dir: String, snapshot: Path): Unit = {
    Files.deleteIfExists(manifestPath(dir))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(reusePath(dir), snapshot.toString)
  }

  /** The snapshot a [[recordReuse]] recorded, if any. */
  def reusedSnapshot(dir: String): Option[Path] = {
    val p = reusePath(dir)
    if (Files.isRegularFile(p)) Some(Paths.get(Files.readString(p))) else None
  }

  /** Read the staged dataset back (load-phase input). */
  def read(spark: SparkSession, dir: String): DataFrame =
    ParquetMeta.read(spark, dataPath(dir))

  /** E7 staging cleanup. */
  def cleanup(dir: String): Unit = graft.FsUtil.deleteRecursively(Paths.get(dir))
}
