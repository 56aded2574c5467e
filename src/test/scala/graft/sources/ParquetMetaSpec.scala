package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, expr, lit, max}
import graft.SparkSpec
import graft.pipeline.{JobCount, Watermark}

object ParquetMetaSpec {
  /** The parquet columns of the watermark fixtures and the Spark types
    * they read as. */
  val Schema = MessageTypeParser.parseMessageType(
    """message m {
      |  optional int64 b;
      |  optional int32 i;
      |  optional int32 s (INTEGER(16,true));
      |  optional int32 d (DATE);
      |  optional int64 ntz (TIMESTAMP(MICROS,false));
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 ms (TIMESTAMP(MILLIS,true));
      |  optional int64 none;
      |}""".stripMargin)
  val Columns = Seq("b", "i", "s", "d", "ntz", "ts", "ms")

  /** Write `n` rows to `file` with parquet-mr, `perGroup` rows a row group.
    * Row `k` holds nulls when `k < nulls`, else values derived from
    * `k + shift` in a scrambled order, so no column's max is its last row;
    * column `none` is always null. */
  def write(file: Path, n: Int, nulls: Int, shift: Int, perGroup: Int = 100): Unit = {
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withConf(new Configuration()).withType(Schema).withRowGroupRowCountLimit(perGroup).build()
    val g = new SimpleGroupFactory(Schema)
    try (0 until n).foreach { k =>
      val row = g.newGroup()
      if (k >= nulls) {
        val v = ((k + shift) * 7919L) % 10007
        row.add("b", v * 1000003L)
        row.add("i", v.toInt)
        row.add("s", (v % 30000).toInt)
        row.add("d", 19000 + (v % 700).toInt)
        row.add("ntz", 1700000000000000L + v * 1234567L)
        row.add("ts", 1700000000000000L + v * 7654321L)
        row.add("ms", 1700000000000L + v * 4321L)
      }
      w.write(row)
    } finally w.close()
  }

  /** One file of `ts` stored as INT64 TIMESTAMP(NANOS), as some writers
    * store `events.ts`. */
  def writeNanos(file: Path): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withConf(new Configuration()).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 50).foreach { k =>
      w.write(g.newGroup().append("event_id", k.toLong)
        .append("ts", 1700000000000000000L + ((k * 37L) % 50) * 1000001234L))
    } finally w.close()
  }
}

class ParquetMetaSpec extends SparkSpec {
  import ParquetMetaSpec._

  private def resolve(path: String): DataFrame = {
    val (df, jobs) = JobCount(spark, s"parquet-meta-${path.hashCode}")(ParquetMeta.read(spark, path))
    assert(jobs == 0, s"resolving $path ran $jobs Spark jobs")
    df
  }

  /** `ParquetMeta.read(path)` resolves as `spark.read.parquet(path)` does,
    * with no Spark job: the same schema and the same relation. */
  private def assertParity(path: String): DataFrame = {
    val df = resolve(path)
    val spark0 = spark.read.parquet(path)
    assert(df.schema == spark0.schema, s"$path: ${df.schema.simpleString}")
    assert(df.queryExecution.analyzed.sameResult(spark0.queryExecution.analyzed), path)
    df
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("the footer schema is spark.read.parquet's for every table of three corpora, with no job") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")   // as Tables reads
    for (dir <- Seq(sf(), sf("sf0.01"), "perfbench/corpus/sf0.1"); t <- Tables.names) {
      assert(Files.exists(Paths.get(s"$dir/$t.parquet")), s"$dir/$t.parquet")
      assertParity(s"$dir/$t.parquet")
    }
  }

  test("schema parity: an events dir of a base file plus Spark-written deltas") {
    val dir = tmp("pm-events").resolve("events.parquet")
    Files.createDirectories(dir)
    Files.copy(Paths.get(sf(), "events.parquet"), dir.resolve("part-00000-base.parquet"))
    val base = Tables(spark, sf(), "events")
    base.limit(7).write.mode("append").parquet(dir.toString)
    base.limit(3).write.mode("append").parquet(dir.toString)
    val df = assertParity(dir.toString)
    assert(df.count() == base.count() + 10)
  }

  test("schema parity: a dir whose _common_metadata names a column no data file has") {
    import spark.implicits._
    val dir = tmp("pm-common").resolve("t")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(dir.toString)
    val wide = tmp("pm-wide").resolve("t")
    Seq((3, "c", 1.5)).toDF("k", "v", "extra").coalesce(1).write.parquet(wide.toString)
    val part = Files.list(wide).iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, dir.resolve("_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
    val df = assertParity(dir.toString)
    assert(df.columns.toSeq == Seq("k", "v", "extra"), "the summary file's schema was not picked")
    assert(df.count() == 2)
  }

  test("schema parity: a TIMESTAMP(NANOS) file reads as long under nanosAsLong") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val file = tmp("pm-nanos").resolve("events.parquet")
    writeNanos(file)
    val df = assertParity(file.toString)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
  }

  test("an empty dir fails with spark.read.parquet's AnalysisException, and a missing path too") {
    val empty = tmp("pm-empty").toString
    val ours = intercept[AnalysisException](ParquetMeta.read(spark, empty))
    val theirs = intercept[AnalysisException](spark.read.parquet(empty))
    assert(ours.getCondition == theirs.getCondition && ours.getMessage == theirs.getMessage)
    val missing = s"$empty/nope"
    assert(intercept[AnalysisException](ParquetMeta.read(spark, missing)).getCondition ==
      intercept[AnalysisException](spark.read.parquet(missing)).getCondition)
  }

  /** The aggregate's Java value of `max(c)`, as the poll read it before. */
  private def aggregate(df: DataFrame, c: String): Option[Any] =
    Option(df.agg(max(col(c))).head().get(0))

  /** Three files: several row groups with null-only ones, zero rows, and
    * a second range of values. */
  private def fixtureDir(): String = {
    val dir = tmp("pm-wm")
    write(dir.resolve("part-0.parquet"), n = 450, nulls = 250, shift = 0)
    write(dir.resolve("part-1.parquet"), n = 0, nulls = 0, shift = 0)
    write(dir.resolve("part-2.parquet"), n = 120, nulls = 0, shift = 5000, perGroup = 50)
    dir.toString
  }

  test("the footer max equals the aggregate's value for every supported type, with no job") {
    val df = ParquetMeta.read(spark, fixtureDir())
    // row groups per file: 5 (the first two null-only), none, 3
    assert(ParquetMeta.footers(df).map(_._2.getBlocks.size).sorted == Seq(0, 3, 5))
    assert(df.schema.map(f => f.name -> f.dataType.typeName) == Seq("b" -> "long",
      "i" -> "integer", "s" -> "short", "d" -> "date", "ntz" -> "timestamp_ntz",
      "ts" -> "timestamp", "ms" -> "timestamp", "none" -> "long"))
    (Columns :+ "none").foreach { c =>
      val (m, jobs) = JobCount(spark, s"parquet-meta-max-$c")(ParquetMeta.max(df, c))
      assert(jobs == 0, c)
      assert(m.contains(aggregate(df, c)), s"$c: footer $m, aggregate ${aggregate(df, c)}")
    }
    assert(ParquetMeta.max(df, "none").contains(None))
    // a bare column of a projection, or a cast to its own type, is the column
    val projected = df.select(col("i").as("j"), expr("cast(ntz as timestamp_ntz)").as("ntz"))
    assert(ParquetMeta.max(projected, "j").contains(aggregate(df, "i")))
    assert(ParquetMeta.max(projected, "ntz").contains(aggregate(df, "ntz")))
    Columns.foreach { c =>
      val (v, jobs) = JobCount(spark, s"parquet-meta-poll-$c")(Watermark.poll(df, c))
      assert(jobs == 0 && v.isDefined, c)
      // a filter is a plan the footers cannot answer: the poll aggregates
      assert(v == Watermark.poll(df.filter(lit(true)), c), c)
    }
  }

  /** The poll of `c` over `df` is the aggregate's: the footers decline. */
  private def assertFallsBack(df: DataFrame, c: String): Unit = {
    assert(ParquetMeta.max(df, c).isEmpty, s"the footers answered for $c")
    val v = Watermark.poll(df, c)
    assert(v.isDefined && v == Watermark.poll(df.filter(lit(true)), c))
  }

  test("the poll falls back to the aggregate: no statistics, INT96, nanos rebuilt as micros") {
    import spark.implicits._
    val noStats = tmp("pm-nostats").resolve("t").toString
    val base = ParquetMeta.read(spark, fixtureDir()).select("b", "ntz")
    base.write.option("parquet.column.statistics.enabled", "false").parquet(noStats)
    val df = ParquetMeta.read(spark, noStats)
    Seq("b", "ntz").foreach(assertFallsBack(df, _))

    val int96 = tmp("pm-int96").resolve("t").toString   // Spark's default timestamp output
    Seq(java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456"),
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00")).toDF("ts").write.parquet(int96)
    val footers = ParquetMeta.footers(ParquetMeta.read(spark, int96))
    assert(footers.forall(_._2.getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType
      .getPrimitiveTypeName.name == "INT96"), "the fixture is not INT96")
    assertFallsBack(ParquetMeta.read(spark, int96), "ts")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanos = tmp("pm-nanos-wm")
    writeNanos(nanos.resolve("events.parquet"))
    val events = Tables(spark, nanos.toString, "events")
    assertFallsBack(events, "ts")
  }

  test("a footer that cannot be read leaves the poll to the aggregate, which fails") {
    val dir = tmp("pm-corrupt")
    write(dir.resolve("part-0.parquet"), n = 10, nulls = 0, shift = 0)
    val df = ParquetMeta.read(spark, dir.toString)
    Files.writeString(dir.resolve("part-9.parquet"), "not parquet")
    val listed = ParquetMeta.read(spark, dir.toString)   // the first file's footer is whole
    assert(ParquetMeta.max(listed, "b").isEmpty)
    intercept[Exception](Watermark.poll(listed, "b"))
    assert(ParquetMeta.max(df, "b").contains(aggregate(df, "b")), "the earlier listing changed")
  }
}
