package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Pins the checkpoint stat-chain break (GraftBridge.dropOriginStats) that
  * keeps iterative loops' plan-construction cost FLAT per generation.
  *
  * Dataset.checkpoint/localCheckpoint copy `optimizedPlan.stats` into the
  * returned LogicalRDD leaf, and the size-only estimator MULTIPLIES child
  * sizeInBytes across joins — so in a loop that checkpoints a plan built
  * over previous checkpoints, the captured stat's BigInt bit-length grows
  * geometrically with generation depth and the driver sinks into
  * BigInteger multiplication during plain plan construction (measured on
  * q101 at sf10: rounds 9/10/11 cost 1.4/5/25 s of pure stats arithmetic
  * over a 30k-row label table; 35 of the query's 53 s). These tests pin
  * the mechanism, not the timing: the captured stat compounds across
  * generations, and dropOriginStats resets the leaf to the session
  * default so it CANNOT compound. connectedComponents' distributed loop
  * applies the break every round (Dedup.materializeGen). */
class ChainBreakSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  private def sizeOf(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("checkpoint captures origin stats; dropOriginStats resets to the session default") {
    import spark.implicits._
    val base = (1L to 100L).toDF("id").localCheckpoint(true)
    // one self-join generation: captured stats compound multiplicatively
    val gen = base.join(base.select(col("id").as("id2")), col("id") === col("id2"))
      .select("id").localCheckpoint(true)
    assert(sizeOf(gen) > sizeOf(base),
      s"checkpoint should capture the join's PRODUCT stat (${sizeOf(gen)} vs ${sizeOf(base)})")
    val broken = GraftBridge.dropOriginStats(gen)
    val default = BigInt(spark.conf.get("spark.sql.defaultSizeInBytes",
      Long.MaxValue.toString))
    assert(sizeOf(broken) == default,
      s"dropped leaf must report defaultSizeInBytes, got ${sizeOf(broken)}")
    // the break is what stops the compounding: iterate a self-join
    // generation both ways — unbroken, the captured stat's bit-length
    // GROWS every generation (the q101 blowup in miniature); broken, it
    // is CONSTANT in depth (every generation joins default-stat leaves)
    def generation(df: org.apache.spark.sql.DataFrame) =
      df.join(df.select(col("id").as("id2")), col("id") === col("id2"))
        .select("id").localCheckpoint(true)
    val unbrokenSizes = Iterator.iterate(base)(generation).drop(1)
      .take(3).map(sizeOf(_).bitLength).toSeq
    val brokenSizes = Iterator.iterate(base)(g =>
        generation(GraftBridge.dropOriginStats(g))).drop(1)
      .take(3).map(sizeOf(_).bitLength).toSeq
    assert(unbrokenSizes == unbrokenSizes.sorted &&
      unbrokenSizes.distinct.size == 3,
      s"unbroken chain must grow per generation: $unbrokenSizes")
    assert(brokenSizes.drop(1).distinct.size == 1,
      s"broken chain must capture a depth-independent stat: $brokenSizes")
  }

  test("dropOriginStats preserves rows and is a passthrough off checkpoint leaves") {
    import spark.implicits._
    val df = (1L to 50L).toDF("id").withColumn("v", col("id") * 2)
    // non-LogicalRDD plans pass through untouched (same plan object)
    assert(GraftBridge.dropOriginStats(df) eq df)
    val leafed = df.localCheckpoint(true)
    val broken = GraftBridge.dropOriginStats(leafed)
    assert(broken.orderBy("id").collect().toSeq ==
      leafed.orderBy("id").collect().toSeq)
    // still a leaf over the SAME rdd — no recompute, no codec round-trip
    assert(broken.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
  }

  test("the distributed connectedComponents loop leaves default-stat generations") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.dedup.Dedup.connectedComponentsDistributed(pairs, "id_a", "id_b")
    val default = BigInt(spark.conf.get("spark.sql.defaultSizeInBytes",
      Long.MaxValue.toString))
    // the output reads the last generation's leaf, once per side of the
    // labels ⋈ sizes join; a leaf that kept its origin stats would report
    // a product of its generations' sizes
    val leaves = out.queryExecution.logical.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]))
    assert(leaves.forall(_.stats.sizeInBytes == default),
      leaves.map(_.stats.sizeInBytes).mkString(", "))
    assert(out.collect().forall(r => r.getLong(1) == 1L && r.getLong(2) == 40L))
  }
}
