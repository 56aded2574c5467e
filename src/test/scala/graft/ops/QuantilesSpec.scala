package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.JobCount

/** [[Extended.groupedQuantiles]] (two-pass bucket selection) against a
  * sort-based reference computed on the collected rows. */
class QuantilesSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val qs = Seq("q0" -> 0.0, "q25" -> 0.25, "q50" -> 0.5, "q90" -> 0.9, "q1" -> 1.0)

  /** quantile_cont over the sorted non-null values of each group, in
    * Spark's order (NaN above +Inf): lo + (hi − lo)·frac, lo itself when
    * pos is a rank; None for a group with no value. */
  private def reference(rows: Seq[(String, Option[Double])]): Map[String, Seq[Option[Double]]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.flatMap(_._2).sortWith((a, b) => java.lang.Double.compare(a, b) < 0)
      g -> qs.map { case (_, q) =>
        if (sorted.isEmpty) None
        else {
          val pos = q * (sorted.size - 1).toDouble
          val lo = math.floor(pos).toInt
          val frac = pos - lo
          val vLo = sorted(lo)
          Some(if (frac == 0.0) vLo else vLo + (sorted(math.min(lo + 1, sorted.size - 1)) - vLo) * frac)
        }
      }
    }

  private def got(df: DataFrame): Map[String, Seq[Option[Double]]] =
    df.collect().map(r => r.getString(0) ->
      (1 to qs.size).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i)))).toMap

  private def same(a: Map[String, Seq[Option[Double]]], b: Map[String, Seq[Option[Double]]]): Boolean =
    a.keySet == b.keySet && a.forall { case (g, xs) =>
      xs.zip(b(g)).forall {
        case (Some(x), Some(y)) => x == y || (x.isNaN && y.isNaN)
        case (x, y) => x == y
      }
    }

  private def check(rows: Seq[(String, Option[Double])], bounds: Option[(Double, Double)],
      what: String): Unit = {
    val df = rows.toDF("g", "v")
    val out = bounds match {
      case Some(b) => Extended.groupedQuantiles(df, "g", Seq("v" -> qs), Seq(b))
      case None => Extended.groupedQuantiles(df, "g", Seq("v" -> qs))
    }
    val want = reference(rows)
    val have = got(out)
    assert(same(have, want), s"$what: got $have want $want")
  }

  test("a NULL group key gets its quantiles, as percentile and quantile_cont give") {
    val df = Seq(("a", 1.0), ("a", 3.0), (null, 10.0), (null, 20.0), (null, 30.0)).toDF("g", "v")
    val rows = Extended.groupedQuantiles(df, "g", "v", Seq("p50" -> 0.5))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(rows == Map(Some("a") -> 2.0, None -> 20.0))
    val spark = df.groupBy("g").agg(expr("percentile(v, 0.5)")).collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(rows == spark)
  }

  test("parity: one bucket, ties across bucket edges, single-row and all-null groups") {
    // bounds (0, 4096): unit-wide buckets, so runs of 1s and 2s sit in
    // adjacent buckets and p50's flanks straddle the edge
    val ties = Seq.fill(3)(("t", Some(1.0))) ++ Seq.fill(3)(("t", Some(2.0))) ++
      Seq(("t", Some(2.5)), ("t", Some(1.75)))
    // every value in the lowest bucket of a wide range: pass 2 ranks them all
    val oneBucket = (1 to 40).map(i => ("o", Some(i / 7.0)))
    val edges = Seq(("s", Some(42.0)), ("n", None), ("n", None))
    val rows = ties ++ oneBucket ++ edges
    check(rows, Some((0.0, 4096.0)), "unit buckets")
    check(rows, Some((0.0, 4096e6)), "one bucket")
    check(rows, None, "aggregate bounds")
    val all = Extended.groupedQuantiles(rows.toDF("g", "v"), "g", Seq("v" -> qs))
      .filter(col("g") === "n").collect()
    assert(all.length == 1 && (1 to qs.size).forall(all.head.isNullAt))
  }

  test("parity: NaN, ±Inf and negative values, q = 0 and q = 1") {
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -5.5, -1e300, 1e300, 0.0, 3.25)
    val rows = special.map(v => ("x", Some(v))) ++
      Seq(("inf", Some(Double.PositiveInfinity)), ("inf", Some(Double.PositiveInfinity)),
        ("nan", Some(Double.NaN)), ("nan", Some(1.0)), ("neg", Some(-3.0)), ("neg", Some(-2.0)),
        ("neg", Some(-2.0)), ("neg", None))
    check(rows, None, "aggregate bounds")
    check(rows, Some((-6.0, 4.0)), "finite bounds")
  }

  test("parity: wrong or stale bounds cost speed, never the answer") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 3000).map { i =>
      val g = Seq("a", "b", "c", null)(i % 4)
      val v = rnd.nextInt(10) match {
        case 0 => None
        case 1 => Some(rnd.nextInt(5).toDouble)     // heavy ties
        case _ => Some(math.round(rnd.nextGaussian() * 1000) / 100.0)
      }
      (g, v)
    }
    for (b <- Seq((1e9, 2e9), (-2e9, -1e9), (10.0, -10.0), (5.0, 5.0), (Double.NaN, Double.NaN),
        (Double.NegativeInfinity, Double.PositiveInfinity), (-1.0, 1.0)))
      check(rows, Some(b), s"bounds $b")
    check(rows, None, "aggregate bounds")
  }

  test("parity: footer bounds over parquet, and the same rows from a local relation") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 5000).map(i => (Seq("x", "y", "z")(i % 3),
      if (i % 97 == 0) None else Some(math.round(rnd.nextDouble() * 1e6) / 100.0)))
    val dir = Files.createTempDirectory("quantiles").resolve("t.parquet").toString
    rows.toDF("g", "v").repartition(3).write.parquet(dir)
    val pq = graft.sources.ParquetMeta.read(spark, dir)
    val values = rows.flatMap(_._2)
    assert(graft.sources.ParquetMeta.ranges(pq, Seq("v", "g")) ==
      Seq(Some((values.min, values.max)), None))
    val fromFooters = got(Extended.groupedQuantiles(pq, "g", Seq("v" -> qs)))
    assert(same(fromFooters, reference(rows)))
    assert(same(got(Extended.groupedQuantiles(rows.toDF("g", "v"), "g", Seq("v" -> qs))),
      reference(rows)))
  }

  test("q85: bounds from footers, the jobs pinned, no exchange carries the input rows") {
    val q85 = graft.SparkEntry.queries("q85_percentiles")
    val (df, buildJobs) = JobCount(spark, "q85-build")(q85(spark, sf("sf0.1")))
    assert(buildJobs == 0, "the bounds come from footers")
    val (rows, jobs) = JobCount(spark, "q85-run")(df.collect())
    assert(rows.length == 3)
    // histogram map stage, its window exchange, the picked-bucket
    // broadcast, pass 2's map stage and its window exchange, the final
    // aggregate, the output sort's sample and exchange, the result
    assert(jobs == 9, s"$jobs jobs")
    val li = graft.sources.Tables(spark, sf("sf0.1"), "lineitem")
    val inputRows = 2 * li.count()
    val written = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
    }
    // a map task emits at most one histogram row per (flag, column,
    // bucket); the picked buckets' rows are few (720 at sf1), so 5000
    // bounds them with room while staying far below the melted rows
    val tasks = li.rdd.getNumPartitions
    val histogram = tasks * 3 * 2 * (4096 + 1)
    assert(written.nonEmpty && written.forall(_ <= histogram + 5000),
      s"exchange records $written, histogram bound $histogram, input $inputRows")
    assert(written.sum < inputRows / 10, s"exchange records $written against $inputRows melted rows")
  }
}
