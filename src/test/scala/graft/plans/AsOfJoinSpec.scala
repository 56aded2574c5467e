package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Extended
import graft.sources.Tables

/** The native as-of join (AsOfJoinPlan → AsOfJoinStrategy →
  * AsOfJoinExec) against the union+window composition and hand-checked
  * fixtures. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val quotes = Seq(
    ("A", ts("2024-01-01 10:00:00"), 100.0),
    ("A", ts("2024-01-01 10:00:05"), 101.0),
    ("A", ts("2024-01-01 10:00:10"), 102.0),
    ("B", ts("2024-01-01 10:00:03"), 200.0)
  ).toDF("sym", "ts", "px")

  private lazy val trades = Seq(
    ("A", ts("2024-01-01 10:00:04"), 7L),   // after 10:00:00 quote
    ("A", ts("2024-01-01 10:00:05"), 8L),   // strict: still the 10:00:00 quote
    ("A", ts("2024-01-01 09:59:59"), 9L),   // before any quote → null
    ("B", ts("2024-01-01 10:00:03"), 10L),  // strict: equal ts → null
    ("C", ts("2024-01-01 10:00:10"), 11L)   // key with no quotes → null
  ).toDF("sym", "ts", "qty")

  test("strict semantics on a hand-checked fixture") {
    val r = Extended.asofJoinNative(trades, quotes, Seq("sym"), "ts")
      .orderBy("sym", "ts")
      .select("sym", "qty", "px")
      .collect().map(t => (t.getString(0), t.getLong(1),
        if (t.isNullAt(2)) null else t.getDouble(2)))
    assert(r.toSeq == Seq(
      ("A", 9L, null), ("A", 7L, 100.0), ("A", 8L, 100.0),
      ("B", 10L, null), ("C", 11L, null)))
  }

  test("non-strict (<=) picks the equal-timestamp row") {
    val r = Extended.asofJoinNative(trades, quotes, Seq("sym"), "ts", strict = false)
      .filter(col("sym") === "B").select("px").head()
    assert(r.getDouble(0) == 200.0)
  }

  test("matches the union+window composition on real events data") {
    val e = Tables(spark, sf(), "events").select("event_id", "user_id", "ts", "value")
    val native = Extended.asofJoinNative(e,
      e.select(col("user_id"), col("ts"),
        col("event_id").as("prev_event_id"), col("value").as("prev_value")),
      keys = Seq("user_id"), tsCol = "ts")
      .select("event_id", "user_id", "ts", "value", "prev_event_id", "prev_value")
    val composed = Extended.asofJoin(e,
      e.withColumnRenamed("event_id", "prev_event_id")
        .withColumnRenamed("value", "prev_value"),
      keys = Seq("user_id"), tsCol = "ts",
      payloadCols = Seq("prev_event_id", "prev_value"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("asof_prev_event_id").as("prev_event_id"),
        col("asof_prev_value").as("prev_value"))
    assert(native.count() == e.count())
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("physical plan uses AsOfJoinExec with sorted, clustered children") {
    val r = Extended.asofJoinNative(trades, quotes, Seq("sym"), "ts")
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(plan.contains("Sort ["), plan)
  }

  test("every left row appears exactly once (left-outer cardinality)") {
    val e = Tables(spark, sf(), "events").select("event_id", "user_id", "ts", "value")
    val n = Extended.asofJoinNative(e,
      e.select(col("user_id"), col("ts"), col("value").as("pv")),
      Seq("user_id"), "ts").count()
    assert(n == e.count())
  }

  test("randomized inputs match a driver-side reference implementation") {
    val rnd = new scala.util.Random(12345)
    for (_ <- 1 to 3) {
      // right side: unique (key, t) so the winner is well-defined
      val rightRows = rnd.shuffle(
        (for (k <- 0L until 6L; t <- 0 until 200) yield (k, t.toLong))
          .toSeq).take(400)
        .map { case (k, t) => (k, t, rnd.nextInt(1000)) }
      val leftRows = Seq.fill(300)(
        (rnd.nextInt(7).toLong, rnd.nextInt(220).toLong, rnd.nextLong()))
      val l = leftRows.toDF("k", "t", "payload")
      val r = rightRows.toDF("k", "t", "rv")
      val got = Extended.asofJoinNative(l, r, Seq("k"), "t")
        .select("k", "t", "payload", "rv")
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) None else Some(x.getInt(3))))
        .toSet
      val byKey = rightRows.groupBy(_._1)
      val expect = leftRows.map { case (k, t, p) =>
        val m = byKey.getOrElse(k, Seq.empty).filter(_._2 < t)
          .sortBy(_._2).lastOption.map(_._3)
        (k, t, p, m)
      }.toSet
      assert(got == expect)
    }
  }

  test("composite join keys match only when all key parts agree") {
    val l = Seq(("A", 1, ts("2024-01-01 10:00:05"), 1L),
                ("A", 2, ts("2024-01-01 10:00:05"), 2L))
      .toDF("sym", "venue", "ts", "qty")
    val r = Seq(("A", 1, ts("2024-01-01 10:00:00"), 50.0),
                ("A", 2, ts("2024-01-01 10:00:01"), 60.0))
      .toDF("sym", "venue", "ts", "px")
    val out = Extended.asofJoinNative(l, r, Seq("sym", "venue"), "ts")
      .orderBy("venue").select("venue", "px").collect()
    assert(out.map(x => (x.getInt(0), x.getDouble(1))).toSeq ==
      Seq((1, 50.0), (2, 60.0)))
  }

  test("left-side filters push below the join to the scan") {
    val e = Tables(spark, sf(), "events").select("event_id", "user_id", "ts", "value")
    val joined = Extended.asofJoinNative(
      e, e.select(col("user_id"), col("ts"), col("value").as("pv")),
      Seq("user_id"), "ts")
      .filter(col("user_id") < 10 && col("pv") > 0)
    // the user_id predicate (left-only) must reach the left parquet scan
    // as a pushed filter; the pv predicate (right payload) must stay above
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), LessThan(user_id,10)]"), plan)
    // correctness: same rows as filtering the composed-form result
    val expect = Extended.asofJoin(e.filter(col("user_id") < 10),
      e.withColumnRenamed("event_id", "x").withColumnRenamed("value", "pv")
        .select("user_id", "ts", "pv"),
      Seq("user_id"), "ts", Seq("pv"))
      .filter(col("asof_pv") > 0).count()
    assert(joined.count() == expect)
  }

  test("column pruning reaches the scans under the custom node") {
    // the node declares its key/time expressions, so Catalyst's generic
    // column pruning pushes the top projection into both children — the
    // left scan must not read the unused payload column
    val e = Tables(spark, sf(), "events").select("event_id", "user_id", "ts", "value")
    val joined = Extended.asofJoinNative(
      e, e.select(col("user_id"), col("ts"), col("value").as("pv")),
      Seq("user_id"), "ts")
      .select("event_id", "pv")
    val scans = joined.queryExecution.executedPlan.toString.split("\n")
      .filter(_.contains("ReadSchema"))
    assert(scans.exists(s => s.contains("event_id") && !s.contains("value:")), scans.mkString("\n"))
  }

  test("co-bucketed tables join with zero shuffle") {
    // pay the shuffle once at write time (bucketBy user_id); the as-of
    // join's ClusteredDistribution requirement is then already satisfied
    // and EnsureRequirements inserts no Exchange on either side
    Seq("b_ev_l", "b_ev_r").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a killed prior run can leave the warehouse dir behind after the
      // catalog entry is gone
      val p = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(x: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(x)) {
          val s = java.nio.file.Files.list(x)
          try s.forEach(rm) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(x)
      }
      if (java.nio.file.Files.exists(p)) rm(p)
    }
    val e = Tables(spark, sf(), "events").select("event_id", "user_id", "ts", "value")
    e.write.mode("overwrite").bucketBy(4, "user_id").saveAsTable("b_ev_l")
    e.select(col("user_id"), col("ts"), col("value").as("pv"))
      .write.mode("overwrite").bucketBy(4, "user_id").saveAsTable("b_ev_r")
    val joined = Extended.asofJoinNative(
      spark.table("b_ev_l"), spark.table("b_ev_r"), Seq("user_id"), "ts")
    assert(joined.count() == e.count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
