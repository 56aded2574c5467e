package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class SqIndexSpec extends SparkSpec {
  private lazy val emb = Tables(spark, sf("sf0.01"), "embeddings")
  private lazy val m = SqIndex.train(emb, "vec_id", "embedding")

  test("train yields per-dimension ranges covering every coordinate") {
    assert(m.dim == 64)
    assert(m.vmin.forall(java.lang.Double.isFinite))
    assert(m.vdiff.forall(d => java.lang.Double.isFinite(d) && d >= 0.0))
  }

  test("train is partitioning-invariant (min/max are order-independent)") {
    val m2 = SqIndex.train(emb.repartition(7, col("vec_id")), "vec_id", "embedding")
    assert(m2.vmin.toSeq == m.vmin.toSeq && m2.vdiff.toSeq == m.vdiff.toSeq)
  }

  test("encode compresses every vector to dim in-range byte codes with zero shuffles") {
    val codes = SqIndex.encode(emb, "vec_id", "embedding", m)
    assert(codes.count() == emb.count())
    val bad = codes.filter(size(col("codes")) =!= 64 ||
      exists(col("codes"), c => c < 0 || c > 255)).count()
    assert(bad == 0)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("SQ8 asymmetric search: k rows per query, deterministic, near-exact recall") {
    val codes = SqIndex.encode(emb, "vec_id", "embedding", m)
    val queries = emb.filter(col("vec_id") < 8)
    val approx = SqIndex.searchSqAdc(m, codes, queries, "vec_id", "embedding", k = 3)
    val rows = approx.collect()
    assert(rows.length == 24) // 8 queries × k=3
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
    }
    // 8 bits per coordinate keeps the ranking near-exact — recall@3 vs the
    // brute cosine truth must be high on the fixture corpus. (SQ ranks by
    // Euclidean; on this corpus norms are comparable enough that the byte
    // quantization, not the metric, is what's under test here.)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
    val rec = Similarity.recallAtK(approx, exact)
      .agg(avg("recall_at_k")).head().getDouble(0)
    assert(rec >= 0.75, s"SQ8 recall@3 $rec")
  }

  test("IVF∘SQ8 at full probe equals the flat SQ scan exactly") {
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val queries = emb.filter(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val flat = key(SqIndex.searchSqAdc(m,
      SqIndex.encode(emb, "vec_id", "embedding", m),
      queries, "vec_id", "embedding", k = 3))
    val composed = key(SqIndex.searchIvfSq(ivf, m, queries,
      "vec_id", "embedding", k = 3, nprobe = 8))
    assert(composed == flat)
  }

  test("binary means are partitioning-invariant (fixed-point sums)") {
    val mu = SqIndex.binaryMeans(emb, "vec_id", "embedding")
    val mu2 = SqIndex.binaryMeans(emb.repartition(7, col("vec_id")), "vec_id", "embedding")
    assert(mu.toSeq == mu2.toSeq && mu.length == 64)
  }

  test("binary codes pack into signed-safe 60-bit words; hamming(x,x) = 0") {
    val mu = SqIndex.binaryMeans(emb, "vec_id", "embedding")
    val bcodes = SqIndex.encodeBinary(emb, "vec_id", "embedding", mu)
    assert(bcodes.count() == emb.count())
    // dim 64 → two words; word 0 uses 60 bits, word 1 the remaining 4
    val bad = bcodes.filter(size(col("bcode")) =!= 2 ||
      element_at(col("bcode"), 1) < 0L || element_at(col("bcode"), 1) >= (1L << 60) ||
      element_at(col("bcode"), 2) < 0L || element_at(col("bcode"), 2) >= (1L << 4)).count()
    assert(bad == 0)
    val selfHam = bcodes
      .select(SqIndex.hammingWords(col("bcode"), col("bcode")).as("h"))
      .agg(max("h")).head().getLong(0)
    assert(selfHam == 0L)
  }

  test("binary re-rank at shortlist >= |corpus| IS brute force (exactness endpoint)") {
    val mu = SqIndex.binaryMeans(emb, "vec_id", "embedding")
    val bcodes = SqIndex.encodeBinary(emb, "vec_id", "embedding", mu)
    val queries = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    val full = key(SqIndex.searchBinaryRerank(mu, bcodes, emb, queries,
      "vec_id", "embedding", k = 3, shortlist = n))
    val brute = key(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3))
    assert(full == brute)
  }

  test("binary recall curve: slice == standalone serve, monotone, endpoint exactly 1.0") {
    val mu = SqIndex.binaryMeans(emb, "vec_id", "embedding")
    val bcodes = SqIndex.encodeBinary(emb, "vec_id", "embedding", mu)
    val queries = emb.filter(col("vec_id") < 6)
    val n = emb.count()
    val ladder = PqIndex.shortlistLadder(3, n)
    val curve = SqIndex.binaryRecallCurve(mu, bcodes, emb, queries,
      "vec_id", "embedding", k = 3, ladder).orderBy("shortlist").collect()
    assert(curve.map(_.getAs[Int]("shortlist")).toSeq == ladder)
    val recalls = curve.map(_.getAs[Double]("recall")).toSeq
    assert(recalls == recalls.sorted, s"curve not monotone: $recalls")
    assert(recalls.last == 1.0) // endpoint reranks everything = brute force
    // the collapsed curve's step-12 row equals the uncollapsed serve
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
    val standalone = Similarity.recallAtK(
      SqIndex.searchBinaryRerank(mu, bcodes, emb, queries,
        "vec_id", "embedding", k = 3, shortlist = 12), exact)
      .agg(sum("n_hit"), sum("n_exact")).head()
    val pooled = standalone.getLong(0).toDouble / standalone.getLong(1)
    val at12 = curve.find(_.getAs[Int]("shortlist") == 12).get.getAs[Double]("recall")
    assert(at12 == pooled, s"curve $at12 != standalone $pooled")
  }

  test("binary shortlist recall: hamming-10 shortlist finds most true top-3 neighbors") {
    val mu = SqIndex.binaryMeans(emb, "vec_id", "embedding")
    val bcodes = SqIndex.encodeBinary(emb, "vec_id", "embedding", mu)
    val queries = emb.filter(col("vec_id") < 8)
    val approx = SqIndex.searchBinaryRerank(mu, bcodes, emb, queries,
      "vec_id", "embedding", k = 3, shortlist = 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
    val rec = Similarity.recallAtK(approx, exact)
      .agg(avg("recall_at_k")).head().getDouble(0)
    assert(rec >= 0.4, s"binary shortlist-10 recall@3 $rec")
  }
}
