package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

/** Pins the r15 single-stage training folds against the groupBy
  * aggregations they replaced — the folds must be value-identical, not
  * just statistically close, because the trained centroids feed
  * hash-compared oracle queries. */
class TrainFoldSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf("sf0.01"), "embeddings")

  test("keyedFixedPointSums == groupBy(count, fixed-point sums), nulls included") {
    val dim = 3
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(0, Seq(1.5f, -2.25f, 0.125f)),
      org.apache.spark.sql.Row(0, Seq(0.5f, 1e30f, -1e30f)),
      org.apache.spark.sql.Row(1, Seq(Float.NaN, 3.75f, -0.5f)),
      org.apache.spark.sql.Row(2, Seq(7.0f, 8.0f, 9.0f)),
      // null elements exercise the skip path (the groupBy side's
      // element_at throws on SHORT arrays under Spark 4's ANSI default,
      // so that fold-only lenience is asserted below instead)
      org.apache.spark.sql.Row(1, Seq[Any](null, 2.0f, null)))
    val df = spark.createDataFrame(rows, schema)
    val (counts, sums) = TrainFold.keyedFixedPointSums(df, nKeys = 3, dim = dim)
    val expected = df
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        (0 until dim).map(i =>
          sum(floor(element_at(col("vec"), i + 1).cast("double") * lit(1e9))
            .cast("long")).as(s"s_$i")): _*)
      .collect()
    val expCounts = new Array[Long](3)
    val expSums = new Array[Long](3 * dim)
    expected.foreach { r =>
      val k = r.getAs[Int]("k")
      expCounts(k) = r.getAs[Long]("n")
      (0 until dim).foreach { i =>
        if (!r.isNullAt(r.fieldIndex(s"s_$i")))
          expSums(k * dim + i) = r.getAs[Long](s"s_$i")
      }
    }
    assert(counts.toSeq == expCounts.toSeq)
    assert(sums.toSeq == expSums.toSeq)
    // fold-only lenience: a short array contributes its present elements
    // and still counts as a row (never an error)
    val shortRows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(0, Seq[Any](4.0f)))
    val (c2, s2) = TrainFold.keyedFixedPointSums(
      spark.createDataFrame(shortRows, schema), nKeys = 1, dim = dim)
    assert(c2.toSeq == Seq(1L) && s2.toSeq == Seq(4000000000L, 0L, 0L))
  }

  test("keyedFixedPointSums on the real corpus == the aggregation form") {
    val cb0 = {
      // one Lloyd seed from the real init discipline, so the keyed
      // relation is exactly what train() folds
      PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8, maxIter = 0)
    }
    val dsub = cb0.dsub
    val subs = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), explode(sequence(lit(0), lit(3))).as("sub"),
        col("embedding"))
      .select(col("sub"),
        slice(col("embedding"), col("sub") * dsub + 1, lit(dsub)).as("subvec"))
    val keyed = subs.select(
      (col("sub") * lit(8) +
        graft.functions.VectorFunctions.nearest_cell(col("subvec"), cb0.centroids(0)))
        .cast("int").as("k"),
      col("subvec"))
    val (counts, sums) = TrainFold.keyedFixedPointSums(keyed, 32, dsub)
    val exp = keyed.groupBy("k")
      .agg(count(lit(1)).as("n"),
        (0 until dsub).map(i =>
          sum(floor(element_at(col("subvec"), i + 1).cast("double") * lit(1e9))
            .cast("long")).as(s"s_$i")): _*)
      .collect()
    exp.foreach { r =>
      val k = r.getAs[Int]("k")
      assert(counts(k) == r.getAs[Long]("n"))
      (0 until dsub).foreach(i =>
        assert(sums(k * dsub + i) == r.getAs[Long](s"s_$i"), s"k=$k i=$i"))
    }
    assert(counts.sum == exp.map(_.getAs[Long]("n")).sum)
  }

  test("codesCrossSums == the posexplode × sequence-explode aggregation") {
    val m = 4; val ksub = 8
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = m, ksub = ksub)
    val dim = cb.dim
    val rel = emb.filter(col("embedding").isNotNull)
      .select(col("embedding"),
        PqIndex.codesExpr(cb, col("embedding")).as("codes"))
    val got = TrainFold.codesCrossSums(
      rel.select(col("codes"), col("embedding")), m, ksub, dim)
    val exp = new Array[Long](dim * m * ksub)
    rel.select(posexplode(col("codes")).as(Seq("sub", "cell")), col("embedding"))
      .select(col("sub"), col("cell"),
        explode(sequence(lit(0), lit(dim - 1))).as("i"), col("embedding"))
      .groupBy("i", "sub", "cell")
      .agg(sum(floor(element_at(col("embedding"), col("i") + 1).cast("double")
        * lit(1e9)).cast("long")).as("s"))
      .collect()
      .foreach { r =>
        exp((r.getAs[Int]("i") * m + r.getAs[Int]("sub")) * ksub +
          r.getAs[Int]("cell")) = r.getAs[Long]("s")
      }
    assert(got.toSeq == exp.toSeq)
  }

  private def causeMessages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(String.valueOf(_)).mkString(" | ")

  test("codesCrossSums fails on a code outside [0, ksub)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = true)),
      StructField("x", ArrayType(FloatType, containsNull = true))))
    // m = 2, ksub = 4: code 4 of subspace 1 would land in the slot of
    // (i + 1, sub 0, cell 0) without the check
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(Seq(0, 3), Seq(1.0f, 2.0f)),
      org.apache.spark.sql.Row(Seq(1, 4), Seq(3.0f, 4.0f)))
    val e = intercept[Exception](TrainFold.codesCrossSums(
      spark.createDataFrame(rows, schema), m = 2, ksub = 4, dim = 2))
    assert(causeMessages(e).contains("code 4 of subspace 1 outside [0, 4)"),
      causeMessages(e))
  }

  test("both folds fail on a null vector row instead of skipping it") {
    import org.apache.spark.sql.types._
    val keyedSchema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("vec", ArrayType(FloatType, containsNull = true))))
    val keyed = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(0, Seq(1.0f, 2.0f)),
      org.apache.spark.sql.Row(1, null)), keyedSchema)
    val e1 = intercept[Exception](
      TrainFold.keyedFixedPointSums(keyed, nKeys = 2, dim = 2))
    assert(causeMessages(e1).contains("null key or null vector row"),
      causeMessages(e1))
    val crossSchema = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = true)),
      StructField("x", ArrayType(FloatType, containsNull = true))))
    val cross = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(Seq(0, 1), Seq(1.0f, 2.0f)),
      org.apache.spark.sql.Row(Seq(1, 0), null)), crossSchema)
    val e2 = intercept[Exception](
      TrainFold.codesCrossSums(cross, m = 2, ksub = 2, dim = 2))
    assert(causeMessages(e2).contains("null codes or null vector row"),
      causeMessages(e2))
  }

  test("64-partition input folds to the same sums as a 1-partition input") {
    val m = 4; val ksub = 8
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = m, ksub = ksub)
    val rel = emb.filter(col("embedding").isNotNull)
      .select(PqIndex.codesExpr(cb, col("embedding")).as("codes"),
        col("embedding"))
    val keyed = rel.select(element_at(col("codes"), 1).as("k"), col("embedding"))
    val spread = keyed.repartition(64)
    assert(spread.rdd.getNumPartitions == 64)
    val (c64, s64) = TrainFold.keyedFixedPointSums(spread, ksub, cb.dim)
    val (c1, s1) = TrainFold.keyedFixedPointSums(keyed.coalesce(1), ksub, cb.dim)
    assert(c64.sum == emb.filter(col("embedding").isNotNull).count())
    assert(c64.toSeq == c1.toSeq && s64.toSeq == s1.toSeq)
    assert(TrainFold.codesCrossSums(rel.repartition(64), m, ksub, cb.dim).toSeq ==
      TrainFold.codesCrossSums(rel.coalesce(1), m, ksub, cb.dim).toSeq)
  }

  test("trainOpq init fusion: initVecs path == the per-train collected init") {
    // the driver-rotated init must match what train() would collect from
    // the rotated relation itself — same rows, same MatVecFloat floats
    val rot = PqIndex.seededRotation(64, seed = 7L)
    val rotated = PqIndex.rotate(emb, "vec_id", "embedding", rot)
    val viaCollect = PqIndex.train(rotated, "vec_id", "embedding", m = 4, ksub = 16)
    val initHash = graft.text.TextAnalysis.h60(
      concat(col("vec_id").cast("string"), lit(":"), lit(42L).cast("string")))
    val initRaw = emb.filter(col("embedding").isNotNull)
      .select(col("embedding")).orderBy(initHash, col("vec_id"))
      .limit(16).collect().map(_.getSeq[Float](0).toArray)
    val initVecs = initRaw.map { v =>
      val out = graft.functions.MatVecFloat.compute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), rot)
      Array.tabulate(out.numElements())(i => out.getFloat(i).toDouble)
    }
    val viaInit = PqIndex.train(rotated, "vec_id", "embedding", m = 4, ksub = 16,
      initVecs = Some(initVecs))
    assert(viaInit.centroids.flatten.flatten.toSeq ==
      viaCollect.centroids.flatten.flatten.toSeq)
  }
}
