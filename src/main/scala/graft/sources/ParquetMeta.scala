package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation,
  IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFileFormat}
import org.apache.spark.sql.types._

/** Parquet metadata read on the driver (Dremel's answer-from-metadata:
  * a fixed per-query stage costs more than the data at this size).
  *
  * Every library read of a parquet path goes through [[read]], which
  * resolves it with no Spark job, and a watermark poll asks [[max]]
  * before it runs an aggregate. Both read only footers: the schema a
  * writer stored and the row-group statistics Spark's own reader trusts
  * to skip row groups.
  */
object ParquetMeta {

  /** `spark.read.parquet(path)`, the same DataFrame and the same errors,
    * with the schema read on the driver from the footer Spark's inference
    * would read in a Spark job. */
  def read(spark: SparkSession, path: String): DataFrame = GraftParquetBridge.read(spark, path)

  /** The file index of the one non-partitioned parquet relation a plan
    * scans, if the plan is that relation under projections. */
  private def fileIndex(plan: LogicalPlan): Option[PartitioningAwareFileIndex] =
    plan match {
      case p: Project => fileIndex(p.child)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
        case idx: PartitioningAwareFileIndex if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty => Some(idx)
        case _ => None
      }
      case _ => None
    }

  /** The files of `idx` a scan reads: its listing less summary, hidden
    * and empty files, as `PartitioningAwareFileIndex.listFiles` filters. */
  private def scanned(idx: PartitioningAwareFileIndex): Seq[FileStatus] =
    idx.allFiles().filter { f =>
      val n = f.getPath.getName
      f.getLen > 0 && !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
    }

  /** The footer, row groups included, of every file `df` reads, from the
    * listing its resolution made: `df` must be a [[read]] of a path, or
    * `spark.read.parquet`'s. Each footer is read on the driver; one that
    * is not parquet fails naming its file. */
  def footers(df: DataFrame): Seq[(FileStatus, ParquetMetadata)] =
    footers(df.sparkSession, fileIndex(df.queryExecution.analyzed).getOrElse(
      throw new IllegalArgumentException(
        s"not a parquet read of a path: ${df.queryExecution.analyzed.simpleString(2)}")))

  private def footers(spark: SparkSession,
      idx: PartitioningAwareFileIndex): Seq[(FileStatus, ParquetMetadata)] = {
    val conf = GraftParquetBridge.hadoopConf(spark)
    scanned(idx).map(f => f -> GraftParquetBridge.footer(conf, f, ParquetMetadataConverter.NO_FILTER))
  }

  /** The Spark schema of one file's footer, as schema inference reads it. */
  def schema(spark: SparkSession, f: FileStatus, footer: ParquetMetadata): StructType =
    GraftParquetBridge.schema(spark, f, footer)

  /** The earliest date and instant a footer max is trusted for: older
    * ones may be rebased between calendars when they are read. */
  private val MinDays = -25567                             // 1900-01-01
  private val MinMicros = (MinDays + 1) * 86400L * 1000000L // a day later: any zone offset

  /** `max(column)` over `df` as `df.agg(max(column))` returns it (the same
    * Java value), from footer statistics and with no Spark job: `Some(None)`
    * when no row holds a value. None when the footers cannot answer, so the
    * caller runs the aggregate. They answer when `column` is a column of a
    * non-partitioned parquet relation, bare or cast to its own type, of
    * type bigint, int, smallint, date, timestamp or timestamp_ntz stored
    * as INT32/INT64, DATE or TIMESTAMP MICROS/MILLIS in every file, and
    * every row group that holds a value of it carries its max, and that
    * max is no earlier than 1900. A footer that cannot be read is left to
    * the aggregate too. */
  def max(df: DataFrame, column: String): Option[Option[Any]] = {
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    // the relation attribute `column` projects, through bare or same-type casts
    def source(p: LogicalPlan, a: Attribute): Option[Attribute] = p match {
      case proj: Project => proj.projectList.find(_.exprId == a.exprId).flatMap {
        case b: Attribute => source(proj.child, b)
        case Alias(b: Attribute, _) => source(proj.child, b)
        case Alias(c: Cast, _) => c.child match {
          case b: Attribute if b.dataType == c.dataType => source(proj.child, b)
          case _ => None
        }
        case _ => None
      }
      case _: LogicalRelation => Some(a)
      case _ => None
    }
    for {
      out <- Some(plan.output.filter(a => resolver(a.name, column))).collect { case Seq(a) => a }
      attr <- source(plan, out)
      idx <- fileIndex(plan)
      m <- try filesMax(footers(df.sparkSession, idx).map(_._2), attr.name, attr.dataType)
           catch { case NonFatal(_) => None }
      if m.forall(trusted(attr.dataType, _))
    } yield m.map(CatalystTypeConverters.convertToScala(_, attr.dataType))
  }

  /** The catalyst max of column `name` over the files of `footers`; None
    * when a file does not store it as type `t` or a row group holding a
    * value of it has no max. */
  private def filesMax(footers: Seq[ParquetMetadata], name: String,
      t: DataType): Option[Option[Any]] = {
    val path = ColumnPath.get(name)
    val chunks: Seq[Option[Option[Long]]] = footers.flatMap { footer =>
      val schema = footer.getFileMetaData.getSchema
      val scale = if (schema.containsField(name)) storedScale(schema.getType(Seq(name): _*), t) else None
      scale.fold(Seq(Option.empty[Option[Long]])) { k =>
        footer.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find(_.getPath == path).flatMap { c =>
            val s = c.getStatistics
            if (c.getValueCount == 0) Some(None)
            else if (s == null) None
            else if (s.hasNonNullValue) s match {
              case i: IntStatistics => Some(Some(i.getMax.toLong * k))
              case l: LongStatistics => Some(Some(Math.multiplyExact(l.getMax, k)))
              case _ => None
            }
            else if (s.isNumNullsSet && s.getNumNulls == c.getValueCount) Some(None) // nulls only
            else None
          }
        }
      }
    }
    if (chunks.contains(None)) None
    else Some(chunks.flatten.flatten.maxOption.map { v =>
      t match {
        case IntegerType | DateType => v.toInt
        case ShortType => v.toShort
        case _ => v
      }
    })
  }

  /** The factor that turns a stored value of parquet type `p` into the
    * catalyst value of Spark type `t` (MILLIS → micros), if `p` is how a
    * file stores `t`: a signed integer of `t`'s width, a DATE, or a
    * MICROS/MILLIS TIMESTAMP adjusted to UTC as `t` is. */
  private def storedScale(p: org.apache.parquet.schema.Type, t: DataType): Option[Long] =
    if (!p.isPrimitive || p.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED)) None
    else {
      val prim = p.asPrimitiveType
      (prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation, t) match {
        case (INT64, null, LongType) | (INT32, null, IntegerType) => Some(1L)
        case (INT64, i: IntLogicalTypeAnnotation, LongType) if i.isSigned && i.getBitWidth == 64 => Some(1L)
        case (INT32, i: IntLogicalTypeAnnotation, IntegerType) if i.isSigned && i.getBitWidth == 32 => Some(1L)
        case (INT32, i: IntLogicalTypeAnnotation, ShortType) if i.isSigned && i.getBitWidth == 16 => Some(1L)
        case (INT32, _: DateLogicalTypeAnnotation, DateType) => Some(1L)
        case (INT64, ts: TimestampLogicalTypeAnnotation, TimestampType | TimestampNTZType)
            if ts.isAdjustedToUTC == (t == TimestampType) => ts.getUnit match {
          case TimeUnit.MICROS => Some(1L)
          case TimeUnit.MILLIS => Some(1000L)
          case _ => None
        }
        case _ => None
      }
    }

  /** Whether a footer max `v` of type `t` reads back as stored. */
  private def trusted(t: DataType, v: Any): Boolean = (t, v) match {
    case (DateType, d: Int) => d >= MinDays
    case (TimestampType | TimestampNTZType, us: Long) => us >= MinMicros
    case _ => true
  }
}
