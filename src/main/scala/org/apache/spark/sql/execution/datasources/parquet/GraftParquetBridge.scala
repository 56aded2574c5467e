package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Bridge into the `private[parquet]`/`private[sql]` Spark internals that
  * resolve a parquet path, so `graft.sources.ParquetMeta` can do on the
  * driver what `spark.read.parquet` does with a Spark job (its schema
  * inference, `ParquetUtils.inferSchema` → `mergeSchemasInParallel`).
  * Kept to the minimum surface, as `org.apache.spark.sql.graft.GraftBridge`
  * is for `sql`. */
object GraftParquetBridge {

  /** `spark.read.parquet(path)` with no Spark job. The path is globbed and
    * listed once, by the `InMemoryFileIndex` the relation keeps, and the
    * schema is read from the footer Spark's non-merging inference picks:
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path. It is converted as that inference converts it, from the
    * session's conf. A dir with no file fails with the same
    * `AnalysisException` (UNABLE_TO_INFER_SCHEMA). With `mergeSchema` on,
    * every file's footer counts, so Spark's own read runs instead. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val options = CaseInsensitiveMap(Map("path" -> path))
    val parquetOptions = new ParquetOptions(options, conf)
    if (parquetOptions.mergeSchema) spark.read.parquet(path)
    else {
      val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
      val globbed = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
        checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
      val index = new InMemoryFileIndex(session, globbed, options, None,
        FileStatusCache.getOrCreate(session))
      val leaves = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      val pick = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !isSummary(f)))
      val dataSchema = pick.flatMap { f =>
        try Some(schema(spark, f, footer(hadoopConf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)))
        catch { case NonFatal(_) if parquetOptions.ignoreCorruptFiles => None }
      }.getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
      val format = new ParquetFileFormat
      val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema.asNullable,
        None, format, options)(session)
      SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, conf.caseSensitiveAnalysis)
      SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema,
        conf.caseSensitiveAnalysis)
      DataSourceUtils.verifySchema(format, relation.dataSchema, true)
      session.baseRelationToDataFrame(relation)
    }
  }

  private def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n == ParquetFileWriter.PARQUET_METADATA_FILE || n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  }

  /** One file's footer, read on the driver with `filter` (row groups kept
    * or skipped). A file that is not parquet fails as Spark's footer
    * reader fails, naming the file. */
  def footer(conf: Configuration, f: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    try ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), filter)
    catch { case e: Exception => throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e) }

  /** The Spark schema of one file's footer, as schema inference reads it:
    * the schema a Spark writer stored, else the parquet schema converted
    * under the session's parquet settings. */
  def schema(spark: SparkSession, f: FileStatus, footer: ParquetMetadata): StructType = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
  }

  /** The session's Hadoop conf with a relation's `options`, as its scan
    * reads with. */
  def hadoopConf(spark: SparkSession, options: Map[String, String]): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConfWithOptions(options)
}
