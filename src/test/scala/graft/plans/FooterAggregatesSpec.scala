package graft.plans

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.pipeline.{CopyJob, JobCount}
import graft.sources.{ParquetMeta, ParquetMetaSpec, Tables}

/** The optimizer answers a global count, min or max over a parquet read
  * from its footers: the same rows as the scan, no Spark job, and the
  * plan left alone wherever the footers cannot answer exactly. */
class FooterAggregatesSpec extends SparkSpec {

  /** A session of the shared context under the java8 datetime API or not,
    * with the rule installed, or with it excluded so its aggregates scan. */
  private def session(java8: Boolean, rule: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.datetime.java8API.enabled", java8.toString)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")   // as Tables reads
    if (rule) FooterAggregates.ensureRegistered(s)
    else s.conf.set("spark.sql.optimizer.excludedRules", FooterAggregates.ruleName)
    s
  }

  private def answered(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The aggregates footers answer for a column of type `t`. */
  private def aggregates(c: String, t: DataType): Seq[Column] = t match {
    case LongType | IntegerType | ShortType | DateType | TimestampType | TimestampNTZType =>
      Seq(count(col(c)), min(col(c)), max(col(c)))
    case StringType | BinaryType | DoubleType | FloatType | BooleanType => Seq(count(col(c)))
    case _ => Nil
  }

  /** count(*) and every aggregate of every column of the parquet at
    * `path`: answered from footers with no job, and equal to the scan,
    * under the java8 API and without. */
  private def assertParity(path: String): Unit = for (java8 <- Seq(false, true)) {
    val (ruled, scan) = (session(java8, rule = true), session(java8, rule = false))
    def agg(s: SparkSession) = {
      val df = ParquetMeta.read(s, path)
      df.agg(count(lit(1)), df.schema.fields.toSeq.flatMap(f => aggregates(f.name, f.dataType)): _*)
    }
    val df = agg(ruled)
    assert(answered(df), s"$path (java8 $java8): ${df.queryExecution.optimizedPlan.simpleString(2)}")
    val (rows, jobs) = JobCount(spark, s"footer-aggs-${path.hashCode}-$java8")(df.collect().toSeq)
    assert(jobs == 0, s"$path ran $jobs jobs")
    val expected = agg(scan)
    assert(!answered(expected))
    assert(rows == expected.collect().toSeq, s"$path (java8 $java8)")
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("count, min and max from footers equal the scan for every table of three corpora") {
    for (dir <- Seq(sf(), sf("sf0.01"), "perfbench/corpus/sf0.1"); t <- Tables.names)
      assertParity(s"$dir/$t.parquet")
  }

  test("parity over row groups, null-only chunks and zero-row files") {
    val dir = tmp("fa-fixture")
    ParquetMetaSpec.write(dir.resolve("part-0.parquet"), n = 450, nulls = 250, shift = 0)
    ParquetMetaSpec.write(dir.resolve("part-1.parquet"), n = 0, nulls = 0, shift = 0)
    ParquetMetaSpec.write(dir.resolve("part-2.parquet"), n = 120, nulls = 0, shift = 5000, perGroup = 50)
    assertParity(dir.toString)
    // a zero-row file alone: count 0, min and max NULL
    val zero = tmp("fa-zero")
    ParquetMetaSpec.write(zero.resolve("part-0.parquet"), n = 0, nulls = 0, shift = 0)
    assertParity(zero.toString)
    val r = ParquetMeta.read(spark, zero.toString).agg(count(lit(1)), max("b"), min("d")).head()
    assert(r.getLong(0) == 0 && r.isNullAt(1) && r.isNullAt(2))
  }

  test("q01, q32, q33 and q34 run no Spark job at sf0.01 and return the scan's rows") {
    val scan = session(java8 = false, rule = false)
    for (q <- Seq("q01_count_star", "q32_watermark_max_ts", "q33_watermark_max_id",
        "q34_table_counts")) {
      val df = graft.SparkEntry.queries(q)(spark, sf("sf0.01"))
      assert(answered(df), q)
      val (rows, jobs) = JobCount(spark, s"footer-aggs-$q")(df.collect().toSeq)
      assert(jobs == 0, s"$q ran $jobs jobs")
      assert(rows == graft.SparkEntry.queries(q)(scan, sf("sf0.01")).collect().toSeq, q)
    }
  }

  /** `agg` over `df` is left to the scan, which returns what a session
    * without the rule returns for `reread(scan session)`. */
  private def assertLeft(df: DataFrame, reread: SparkSession => DataFrame,
      agg: DataFrame => DataFrame): Unit = {
    val ours = agg(df)
    assert(!answered(ours), ours.queryExecution.optimizedPlan.simpleString(2))
    assert(ours.collect().toSeq == agg(reread(session(java8 = false, rule = false))).collect().toSeq)
  }

  test("left to the scan: a filter, a partitioned dir, DISTINCT and FILTER counts") {
    val dir = tmp("fa-left")
    ParquetMetaSpec.write(dir.resolve("part-0.parquet"), n = 300, nulls = 20, shift = 0)
    val path = dir.toString
    val read = (s: SparkSession) => ParquetMeta.read(s, path)
    val df = read(spark)
    assertLeft(df, read, _.filter(col("b") > 0).agg(count(lit(1))))
    assertLeft(df, read, _.agg(count_distinct(col("b"))))
    assertLeft(df, read, _.agg(expr("count(1) FILTER (WHERE b > 0)")))
    assertLeft(df, read, _.agg(count(lit(1)), sum(col("b"))))       // a sum is not in the footers
    val parts = tmp("fa-parts").resolve("t").toString
    df.withColumn("p", col("i") % 3).write.partitionBy("p").parquet(parts)
    val readParts = (s: SparkSession) => ParquetMeta.read(s, parts)
    assertLeft(readParts(spark), readParts, _.agg(count(lit(1)), max(col("b"))))
  }

  test("left to the scan: INT96, no statistics, a pre-1900 min, too many files") {
    import spark.implicits._
    val int96 = tmp("fa-int96").resolve("t").toString        // Spark's default timestamp output
    Seq(java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      .toDF("ts").write.parquet(int96)
    val readInt96 = (s: SparkSession) => ParquetMeta.read(s, int96)
    assertLeft(readInt96(spark), readInt96, _.agg(max(col("ts"))))
    assert(answered(readInt96(spark).agg(count(lit(1)))), "a row count needs no statistics")

    val noStats = tmp("fa-nostats").resolve("t").toString
    Seq((1L, "a"), (5L, null), (3L, "c")).toDF("b", "s")
      .write.option("parquet.column.statistics.enabled", "false").parquet(noStats)
    val readNoStats = (s: SparkSession) => ParquetMeta.read(s, noStats)
    Seq(max(col("b")), min(col("b")), count(col("s"))).foreach { a =>
      assertLeft(readNoStats(spark), readNoStats, _.agg(a))
    }

    val old = tmp("fa-1850").resolve("t").toString
    Seq(java.sql.Date.valueOf("1850-06-01"), java.sql.Date.valueOf("2020-01-01")).toDF("d")
      .write.parquet(old)
    val readOld = (s: SparkSession) => ParquetMeta.read(s, old)
    assertLeft(readOld(spark), readOld, _.agg(min(col("d"))))
    assert(answered(readOld(spark).agg(max(col("d")))), "a max of 1900 or later is trusted")

    val many = tmp("fa-many")
    ParquetMetaSpec.write(many.resolve("part-0.parquet"), n = 3, nulls = 0, shift = 0)
    (1 to ParquetMeta.MaxFiles).foreach { k =>
      Files.copy(many.resolve("part-0.parquet"), many.resolve(f"part-$k%04d.parquet"))
    }
    val readMany = (s: SparkSession) => ParquetMeta.read(s, many.toString)
    assertLeft(readMany(spark), readMany, _.agg(count(lit(1))))
    Files.delete(many.resolve("part-0.parquet"))                 // at the bound it answers
    assert(answered(readMany(spark).agg(count(lit(1)))))
  }

  test("left to the scan: an unreadable footer, and the query fails as the scan fails") {
    val dir = tmp("fa-corrupt")
    ParquetMetaSpec.write(dir.resolve("part-0.parquet"), n = 10, nulls = 0, shift = 0)
    Files.writeString(dir.resolve("part-9.parquet"), "not parquet")
    val df = ParquetMeta.read(spark, dir.toString).agg(count(lit(1)))
    assert(!answered(df))
    intercept[Exception](df.collect())
    intercept[Exception](ParquetMeta.read(session(java8 = false, rule = false), dir.toString)
      .agg(count(lit(1))).collect())
  }

  test("concurrent reads from the copy job's pool threads register the rule once") {
    def registered(s: SparkSession) = s.experimental.extraOptimizations.count(_ == FooterAggregates)
    val fresh = spark.newSession()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val reads = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = { start.await(); ParquetMeta.read(fresh, s"${sf()}/nation.parquet") }
        })
      }
      start.countDown()
      reads.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(registered(fresh) == 1)

    val viaJob = spark.newSession()
    val base = tmp("fa-job")
    val cfg = CopyJob.JobConfig(Seq("nation", "region", "supplier", "part").map(t =>
      CopyJob.TableSpec(t, CopyJob.FromSpec(t), s"${t}_out")), sf(),
      s"$base/staging", s"$base/target", s"$base/state")
    assert(CopyJob.run(viaJob, cfg) == CopyJob.Copied)
    assert(registered(viaJob) == 1)
    assert(Files.list(Paths.get(cfg.targetRoot)).iterator.asScala.size >= 4)
  }
}
