package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.column.statistics.{DoubleStatistics, FloatStatistics, IntStatistics,
  LongStatistics, Statistics}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation,
  IntLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, BOOLEAN, DOUBLE, FLOAT,
  INT32, INT64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFileFormat}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Parquet metadata read on the driver (Dremel's answer-from-metadata:
  * a fixed per-query stage costs more than the data at this size).
  *
  * Every library read of a parquet path goes through [[read]], which
  * resolves it with no Spark job and installs
  * [[graft.plans.FooterAggregates]] on the session, so the optimizer
  * answers a global count, min or max over such a read. A watermark
  * poll asks [[max]], and the F1 guard [[count]], before either runs a
  * Spark job. All of them read only footers: the schema a writer stored,
  * the row counts, and the row-group statistics Spark's own reader
  * trusts to skip row groups, folded by [[stats]].
  */
object ParquetMeta {

  /** The most files whose footers [[count]] and the optimizer read, one
    * after another on the driver; past it a scan is cheaper. */
  val MaxFiles = 256

  /** `spark.read.parquet(path)`, the same DataFrame and the same errors,
    * with the schema read on the driver from the footer Spark's inference
    * would read in a Spark job. */
  def read(spark: SparkSession, path: String): DataFrame = {
    graft.plans.FooterAggregates.ensureRegistered(spark)
    GraftParquetBridge.read(spark, path)
  }

  /** The one non-partitioned, non-bucketed parquet relation a plan
    * scans, if the plan is that relation under projections. */
  def relation(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
    case p: Project => relation(p.child)
    case LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
        if fs.location.isInstanceOf[PartitioningAwareFileIndex] &&
          fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty => Some(fs)
    case _ => None
  }

  /** The relation column `e` reads over `plan`: a column, bare or cast
    * to its own type, through projections of the same kind. */
  def column(plan: LogicalPlan, e: Expression): Option[Attribute] = (plan, e) match {
    case (_, c: Cast) if c.child.dataType == c.dataType => column(plan, c.child)
    case (_, Alias(c, _)) => column(plan, c)
    case (p: Project, a: Attribute) =>
      p.projectList.find(_.exprId == a.exprId).flatMap(column(p.child, _))
    case (r: LogicalRelation, a: Attribute) if r.outputSet.contains(a) => Some(a)
    case _ => None
  }

  /** The files of `fs` a scan reads: its listing less summary, hidden
    * and empty files, as `PartitioningAwareFileIndex.listFiles` filters. */
  def scanned(fs: HadoopFsRelation): Seq[FileStatus] =
    fs.location.asInstanceOf[PartitioningAwareFileIndex].allFiles().filter { f =>
      val n = f.getPath.getName
      f.getLen > 0 && !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
    }

  /** The footer, row groups included, of every file `df` reads, from the
    * listing its resolution made: `df` must be a [[read]] of a path, or
    * `spark.read.parquet`'s. Each footer is read on the driver; one that
    * is not parquet fails naming its file. */
  def footers(df: DataFrame): Seq[(FileStatus, ParquetMetadata)] = {
    val fs = relation(df.queryExecution.analyzed).getOrElse(throw new IllegalArgumentException(
      s"not a parquet read of a path: ${df.queryExecution.analyzed.simpleString(2)}"))
    footers(fs, scanned(fs))
  }

  /** The footers of `files` of `fs`, read with the Hadoop conf its scan
    * reads with. */
  def footers(fs: HadoopFsRelation, files: Seq[FileStatus]): Seq[(FileStatus, ParquetMetadata)] = {
    val conf = GraftParquetBridge.hadoopConf(fs.sparkSession, fs.options)
    files.map(f => f -> GraftParquetBridge.footer(conf, f, ParquetMetadataConverter.NO_FILTER))
  }

  /** The Spark schema of one file's footer, as schema inference reads it. */
  def schema(spark: SparkSession, f: FileStatus, footer: ParquetMetadata): StructType =
    GraftParquetBridge.schema(spark, f, footer)

  /** `df.count()` from footer row counts, with no Spark job. None when
    * `df` is not a non-partitioned parquet relation under projections,
    * reads more than [[MaxFiles]] files, or has a footer that cannot be
    * read: the caller runs a job. */
  def count(df: DataFrame): Option[Long] = for {
    fs <- relation(df.queryExecution.analyzed)
    files = scanned(fs) if files.size <= MaxFiles
    read <- try Some(footers(fs, files)) catch { case NonFatal(_) => None }
  } yield rows(read.map(_._2))

  /** `max(column)` over `df` as `df.agg(max(column))` returns it (the same
    * Java value), from [[stats]] and with no Spark job: `Some(None)` when
    * no row holds a value. None when the footers cannot answer, so the
    * caller runs the aggregate: `column` is not a column of the relation
    * under projections ([[column]]), the stats hold no max, or a footer
    * cannot be read. */
  def max(df: DataFrame, column: String): Option[Option[Any]] = {
    val plan = df.queryExecution.analyzed
    val conf = df.sparkSession.sessionState.conf
    val resolver = conf.resolver
    for {
      out <- Some(plan.output.filter(a => resolver(a.name, column))).collect { case Seq(a) => a }
      attr <- this.column(plan, out)
      fs <- relation(plan)
      s <- try stats(footers(fs, scanned(fs)).map(_._2), attr.name, attr.dataType)
           catch { case NonFatal(_) => None }
      m <- s.max
    } yield m.map(v => SQLConf.withExistingConf(conf)(CatalystTypeConverters.convertToScala(v, attr.dataType)))
  }

  /** The least and greatest value footers record for each numeric column
    * of `columns` of `df`, as doubles, with no Spark job, reading each
    * footer once. A hint for bucket bounds, never an answer: a double's
    * statistics leave NaN out. None for a column that is not an integral
    * or floating column of the relation under projections ([[column]]),
    * when the relation reads more than [[MaxFiles]] files or a footer
    * cannot be read, when a chunk holding values carries no min and max,
    * or when no row holds a value. */
  def ranges(df: DataFrame, columns: Seq[String]): Seq[Option[(Double, Double)]] = {
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    lazy val read = for {
      fs <- relation(plan)
      files = scanned(fs) if files.size <= MaxFiles
      read <- try Some(footers(fs, files)) catch { case NonFatal(_) => None }
    } yield read.flatMap(_._2.getBlocks.asScala)
    def chunk(c: ColumnChunkMetaData): Option[Option[(Double, Double)]] =
      Option(c.getStatistics: Statistics[_]).collect {
        case s: DoubleStatistics if s.hasNonNullValue => Some((s.getMin, s.getMax))
        case s: FloatStatistics if s.hasNonNullValue => Some((s.getMin.toDouble, s.getMax.toDouble))
        case s: IntStatistics if s.hasNonNullValue => Some((s.getMin.toDouble, s.getMax.toDouble))
        case s: LongStatistics if s.hasNonNullValue => Some((s.getMin.toDouble, s.getMax.toDouble))
        case s if s.isNumNullsSet && s.getNumNulls == c.getValueCount => None   // nulls only
      }
    columns.map { c =>
      for {
        out <- Some(plan.output.filter(a => resolver(a.name, c))).collect { case Seq(a) => a }
        attr <- column(plan, out) if (attr.dataType match {
          case _: DecimalType => false   // stored unscaled
          case _: NumericType => true
          case _ => false
        })
        blocks <- read
        path = ColumnPath.get(attr.name)
        chunks = blocks.map(_.getColumns.asScala.find(_.getPath == path).flatMap(chunk))
        if !chunks.contains(None)
        rs = chunks.flatten.flatten if rs.nonEmpty
      } yield (rs.map(_._1).min, rs.map(_._2).max)
    }
  }

  /** The rows of the files of `footers`. */
  def rows(footers: Seq[ParquetMetadata]): Long =
    footers.iterator.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum

  /** What footers say about one column over their files: its rows, its
    * nulls when every chunk sets a null count, and its min and max as
    * catalyst values (`Some(None)` when no row holds a value). */
  final case class Stats(rows: Long, nulls: Option[Long], min: Option[Option[Any]],
      max: Option[Option[Any]])

  /** The [[Stats]] of column `name`, of Spark type `t`, over `footers`.
    * None when a file does not store it as a flat column `t` reads
    * unchanged. Min and max are set only for a type [[storedScale]]
    * scales, when every row group holding a value carries them and the
    * value is [[trusted]]. */
  def stats(footers: Seq[ParquetMetadata], name: String, t: DataType): Option[Stats] = {
    val path = ColumnPath.get(name)
    // per chunk: its nulls, and its (min, max) unless its statistics lack them
    val chunks: Seq[Option[(Option[Long], Option[Option[(Long, Long)]])]] = footers.flatMap { footer =>
      val schema = footer.getFileMetaData.getSchema
      val p = if (schema.containsField(name)) Some(schema.getType(Seq(name): _*)) else None
      val scale = p.flatMap(storedScale(_, t))
      if (!p.exists(q => scale.isDefined || plain(q, t))) Seq(None)
      else footer.getBlocks.asScala.toSeq.map { b =>
        b.getColumns.asScala.find(_.getPath == path).map { c =>
          val s: Option[Statistics[_]] = Option(c.getStatistics)
          val nulls = if (c.getValueCount == 0) Some(0L)
            else s.filter(_.isNumNullsSet).map(_.getNumNulls)
          val range = scale.flatMap { k =>
            s.collect {
              case i: IntStatistics if i.hasNonNullValue => Some((i.getMin * k, i.getMax * k))
              case l: LongStatistics if l.hasNonNullValue =>
                Some((Math.multiplyExact(l.getMin, k), Math.multiplyExact(l.getMax, k)))
            }.orElse(nulls.filter(_ == c.getValueCount).map(_ => None))   // nulls only
          }
          (nulls, range)
        }
      }
    }
    if (chunks.contains(None)) None
    else {
      val cs = chunks.flatten
      val nulls = if (cs.forall(_._1.isDefined)) Some(cs.flatMap(_._1).sum) else None
      val ranges = if (cs.forall(_._2.isDefined)) Some(cs.flatMap(_._2).flatten) else None
      def catalyst(v: Long): Any = t match {
        case IntegerType | DateType => v.toInt
        case ShortType => v.toShort
        case _ => v
      }
      def bound(pick: Seq[(Long, Long)] => Option[Long]) =
        ranges.map(r => pick(r).map(catalyst)).filter(_.forall(trusted(t, _)))
      Some(Stats(rows(footers), nulls, bound(r => r.map(_._1).minOption),
        bound(r => r.map(_._2).maxOption)))
    }
  }

  /** The earliest date and instant a footer min or max is trusted for:
    * older ones may be rebased between calendars when they are read. */
  private val MinDays = -25567                             // 1900-01-01
  private val MinMicros = (MinDays + 1) * 86400L * 1000000L // a day later: any zone offset

  /** The factor that turns a stored value of parquet type `p` into the
    * catalyst value of Spark type `t` (MILLIS → micros), if `p` is how a
    * file stores `t`: a signed integer of `t`'s width, a DATE, or a
    * MICROS/MILLIS TIMESTAMP adjusted to UTC as `t` is. */
  private def storedScale(p: org.apache.parquet.schema.Type, t: DataType): Option[Long] =
    if (!flat(p)) None
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

  /** Whether `p` is a flat column whose values read as `t` one for one,
    * nulls included, with no min or max footers can give: a string,
    * binary, double, float or boolean. */
  private def plain(p: org.apache.parquet.schema.Type, t: DataType): Boolean =
    flat(p) && ((p.asPrimitiveType.getPrimitiveTypeName, p.getLogicalTypeAnnotation, t) match {
      case (BINARY, _: StringLogicalTypeAnnotation, StringType) | (BINARY, null, BinaryType) |
           (DOUBLE, null, DoubleType) | (FLOAT, null, FloatType) | (BOOLEAN, null, BooleanType) => true
      case _ => false
    })

  private def flat(p: org.apache.parquet.schema.Type): Boolean =
    p.isPrimitive && !p.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED)

  /** Whether a footer min or max `v` of type `t` reads back as stored. */
  private def trusted(t: DataType, v: Any): Boolean = (t, v) match {
    case (DateType, d: Int) => d >= MinDays
    case (TimestampType | TimestampNTZType, us: Long) => us >= MinMicros
    case _ => true
  }
}
