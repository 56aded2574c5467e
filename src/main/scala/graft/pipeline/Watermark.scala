package graft.pipeline

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types._
import graft.sources.ParquetMeta

/** Incremental-load trigger: watermark poll + conservative new-data
  * decision + state persistence (SURVEY.md §2.G).
  *
  * Semantics reproduced from the reference:
  *  - supported watermark types: BIGINT-ish, DATE, TIMESTAMP
  *    (`CopyTool.java:356-370`; INTEGER normalized to BIGINT);
  *  - the decision is **default-to-true on any doubt** — first run,
  *    missing/corrupt state, type change, config change, empty poll
  *    (`CopyTool.java:383-477`). This at-least-once bias is a correctness
  *    feature; do not "optimize" it away (SURVEY.md §7.5);
  *  - state is persisted only after a fully successful run
  *    (`CopyTool.java:306-309`) and is scoped by a config hash
  *    (`CopyToolConfig.java:1088-1112`).
  */
object Watermark {

  sealed trait Value { def typeName: String; def render: String }
  final case class BigintV(v: Long) extends Value {
    val typeName = "bigint"; def render = v.toString
  }
  final case class DateV(v: java.sql.Date) extends Value {
    val typeName = "date"; def render = v.toString
  }
  final case class TimestampV(v: Timestamp) extends Value {
    val typeName = "timestamp"; def render = v.toString
  }

  final case class State(value: Value, configHash: String)

  /** The Spark types whose max [[poll]] turns into a [[Value]]. */
  private val Supported: Set[DataType] =
    Set(LongType, IntegerType, ShortType, DateType, TimestampType, TimestampNTZType)

  /** Poll the watermark: the max of the trigger column (A6). When the
    * source is parquet files the footers can answer for
    * ([[graft.sources.ParquetMeta.max]]), the max is their row-group
    * statistics' over the listing `df`'s resolution made, read on the
    * driver; otherwise it is an aggregate over the column, as the
    * reference's `SELECT MAX(col)`. The column's type is checked first, so
    * an unsupported one fails before any I/O. Returns None when the source
    * has no rows (→ conservative copy). */
  def poll(df: DataFrame, column: String): Option[Value] = {
    val dt = df.select(col(column)).schema.head.dataType
    if (!Supported(dt)) {
      throw new IllegalArgumentException(s"Unsupported watermark type " +
        s"${GraftBridge.externalClass(dt).getName} for column '$column'")
    }
    ParquetMeta.max(df, column).getOrElse {
      val row = df.agg(max(col(column)).as("w")).head()
      if (row.isNullAt(0)) None else Some(row.get(0))
    }.map {
      case l: Long               => BigintV(l)
      case i: Int                => BigintV(i.toLong) // INTEGER → BIGINT
      case s: Short              => BigintV(s.toLong)
      case d: java.sql.Date      => DateV(d)
      case t: Timestamp          => TimestampV(t)
      case i: java.time.Instant  => TimestampV(Timestamp.from(i)) // java8API
      case t: java.time.LocalDateTime => TimestampV(Timestamp.valueOf(t))
      case d: java.time.LocalDate => DateV(java.sql.Date.valueOf(d))
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported watermark type ${other.getClass.getName} for column '$column'")
    }
  }

  /** The conservative G2 decision: copy unless we are POSITIVE nothing
    * changed (stored state exists, config unchanged, same type, polled
    * value not newer). */
  def hasNewData(polled: Option[Value], stored: Option[State],
      configHash: String): Boolean =
    (polled, stored) match {
      case (None, _)          => true // poll failed / empty source → copy
      case (_, None)          => true // first run / corrupt state → copy
      case (Some(p), Some(st)) =>
        if (st.configHash != configHash) true          // config changed
        else if (st.value.typeName != p.typeName) true // type changed
        else (p, st.value) match {
          case (BigintV(a), BigintV(b))       => a > b
          case (DateV(a), DateV(b))           => a.after(b)
          case (TimestampV(a), TimestampV(b)) => a.after(b)
          case _                              => true
        }
    }

  /** 3-line state file: value, type name, config hash
    * (`CopyTool.java:482-507`). Unreadable state → None (→ copy). */
  def readState(path: Path): Option[State] =
    if (!Files.exists(path)) None
    else try {
      val lines = Files.readAllLines(path)
      if (lines.size < 3) None
      else {
        val value = lines.get(1) match {
          case "bigint"    => BigintV(lines.get(0).toLong)
          case "date"      => DateV(java.sql.Date.valueOf(lines.get(0)))
          case "timestamp" => TimestampV(Timestamp.valueOf(lines.get(0)))
          case _           => return None
        }
        Some(State(value, lines.get(2)))
      }
    } catch { case _: Exception => None }

  def writeState(path: Path, state: State): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path,
      s"${state.value.render}\n${state.value.typeName}\n${state.configHash}\n")
  }

  /** SHA-1 of the job config rendering — scopes state to a config version
    * (`CopyToolConfig.java:1098-1112`). */
  def configHash(rendered: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
