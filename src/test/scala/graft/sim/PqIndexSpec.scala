package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class PqIndexSpec extends SparkSpec {
  private lazy val emb = Tables(spark, sf("sf0.01"), "embeddings")
  private lazy val cb = PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8)

  test("train yields an m × ksub × dsub codebook of finite sub-centroids") {
    assert(cb.m == 4 && cb.ksub == 8 && cb.dsub == 16)
    assert(cb.centroids.length == 4)
    assert(cb.centroids.forall(_.length == 8))
    assert(cb.centroids.forall(_.forall(c =>
      c.length == 16 && c.forall(java.lang.Double.isFinite))))
  }

  test("train is partitioning-invariant (fixed-point sums)") {
    val shuffled = emb.repartition(7, col("vec_id"))
    val cb2 = PqIndex.train(shuffled, "vec_id", "embedding", m = 4, ksub = 8)
    assert(cb2.centroids.flatten.flatten.toSeq == cb.centroids.flatten.flatten.toSeq)
  }

  test("encode compresses every vector to m in-range codes with zero shuffles") {
    val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
    assert(codes.count() == emb.count())
    val bad = codes.filter(size(col("codes")) =!= 4 ||
      exists(col("codes"), c => c < 0 || c >= 8)).count()
    assert(bad == 0)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("ADC search: k rows per query, exact fixed-point/double agreement, deterministic") {
    val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") < 5)
    def run() = PqIndex.searchADC(cb, codes, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    val rows = run()
    assert(rows.length == 15) // 5 queries × k=3
    assert(rows == run())
    // per query: ranks 1..k, fixed-point distances non-decreasing in rank
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2) == Seq(1L, 2L, 3L))
      assert(rs.map(_._4) == rs.map(_._4).sorted)
    }
  }

  test("IVF∘PQ at full probe equals the flat ADC scan exactly") {
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val queries = emb.filter(col("vec_id") < 5)
    val flat = PqIndex.searchADC(cb,
      PqIndex.encode(emb, "vec_id", "embedding", cb),
      queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val composed = PqIndex.searchIvfAdc(ivf, cb, queries,
      "vec_id", "embedding", k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(composed == flat)
  }

  test("two-stage re-rank: exact cosines, recall >= plain ADC, shortlist broadcast") {
    val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .collect()
    val brutePairs = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    val bruteCos = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val adc = pairsOf(PqIndex.searchADC(cb, codes, queries, "vec_id", "embedding", 3))
    val rr = PqIndex.searchAdcRerank(cb, codes, emb, queries,
      "vec_id", "embedding", k = 3, shortlist = 50)
    val rrRows = rr.collect()
    val rrPairs = rrRows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recallAdc = (brutePairs & adc).size.toDouble / brutePairs.size
    val recallRr = (brutePairs & rrPairs).size.toDouble / brutePairs.size
    assert(recallRr >= recallAdc, s"rerank $recallRr < adc $recallAdc")
    // re-ranked cosines are EXACT (identical to brute force on shared pairs)
    rrRows.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bruteCos.get(key).foreach(c => assert(r.getDouble(3) == c, s"$key"))
    }
    // the vector fetch joins against a broadcast shortlist — the corpus
    // is never shuffled for it
    val plan = rr.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("shortlistRecallCurve: each slice == standalone searchAdcRerank; monotone; total rule ends exact") {
    val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") < 6)
    val n = emb.count()
    val ladder = PqIndex.shortlistLadder(3, n)
    assert(ladder.head == 3 && ladder.last == n.toInt &&
      ladder.sliding(2).forall { case Seq(a, b) => b == 2 * a || b == n })
    val curve = PqIndex.shortlistRecallCurve(cb, codes, emb, queries,
        "vec_id", "embedding", k = 3, ladder)
      .orderBy("shortlist").collect()
      .map(r => (r.getAs[Int]("shortlist"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("recall")))
    assert(curve.map(_._1).toSeq == ladder)
    // prefix sets are nested, so recall never decreases with shortlist
    assert(curve.sliding(2).forall { case Array((_, _, a), (_, _, b)) => b >= a })
    // the endpoint reranks EVERY ADC candidate — brute force, recall 1.0:
    // this is what makes the shortlist ladder total, unlike the LSH one
    assert(curve.last._3 == 1.0, s"endpoint recall ${curve.last._3}")
    // the slicing identity: step s's hits equal running the standalone
    // two-stage serve at shortlist=s through the same metric
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
    Seq(ladder.head, ladder(ladder.length / 2), ladder.last).foreach { s =>
      val standalone = Similarity.recallAtK(
        PqIndex.searchAdcRerank(cb, codes, emb, queries, "vec_id", "embedding",
          k = 3, shortlist = s),
        exact).agg(sum("n_hit")).head().getLong(0)
      assert(standalone == curve.find(_._1 == s).get._2,
        s"shortlist=$s: curve ${curve.find(_._1 == s).get._2} != standalone $standalone")
    }
  }

  test("null vectors drop everywhere instead of corrupting training or ranking first") {
    import spark.implicits._
    val withNull = emb.select("vec_id", "embedding").unionByName(
      Seq((999999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    // train ignores the null row: identical codebook
    val cb2 = PqIndex.train(withNull, "vec_id", "embedding", m = 4, ksub = 8)
    assert(cb2.centroids.flatten.flatten.toSeq == cb.centroids.flatten.flatten.toSeq)
    // encode drops it (a NULL code row would rank first in every ADC scan)
    val codes = PqIndex.encode(withNull, "vec_id", "embedding", cb)
    assert(codes.filter(col("vec_id") === 999999L).count() == 0)
    val got = PqIndex.searchADC(cb, codes, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 3)
      .collect().map(_.getLong(2))
    assert(!got.contains(999999L) && got.length == 9)
  }

  test("residual IVF-PQ: adist is the exact reconstruction distance; recall >= raw at same budget") {
    import org.apache.spark.sql.functions.sum
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val rcb = PqIndex.trainResidual(ivf, "vec_id", "embedding", m = 4, ksub = 8)
    val queries = emb.filter(col("vec_id") < 6)
    val got = PqIndex.searchIvfAdcResidual(ivf, rcb, queries, "vec_id",
        "embedding", k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // reconstruction identity: adist_fp == floor-summed ||(q−c) − r̂||²
    // computed directly from the served tables — the qnorm correction is
    // load-bearing (drop it and cross-cell sums go negative-shifted)
    val cents = ivf.centroids.collect()
      .map(r => r.getAs[Int]("cell") -> r.getSeq[Float](r.fieldIndex("centroid")).toArray).toMap
    val cellOf = ivf.cells.collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val vecOf = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    val res = PqIndex.residualCells(ivf, "vec_id", "embedding")
    val codeOf = PqIndex.encode(res, "vec_id", "embedding", rcb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    got.take(40).foreach { case (q, nb, adistFp) =>
      val c = cents(cellOf(nb))
      val qres = vecOf(q).zip(c).map { case (a, b) => a - b }
      val served = rcb.served
      // per-subspace fixed-point terms + the fixed-point |q−c|² term
      val terms = (0 until rcb.m).map { j =>
        val cent = served(j)(codeOf(nb)(j))
        val dot = (0 until rcb.dsub)
          .map(i => qres(j * rcb.dsub + i).toDouble * cent(i)).sum
        math.floor((cent.map(x => x * x).sum - 2.0 * dot) * 1e9).toLong
      }.sum
      val qn = math.floor(qres.map(x => x.toDouble * x.toDouble).sum * 1e9).toLong
      assert(terms + qn == adistFp, s"q=$q nb=$nb: ${terms + qn} != $adistFp")
    }
    // the payoff: at the same m/ksub budget and full probe, residual
    // codes rank at least as many true neighbors into the top-k
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
    def hits(approx: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(approx, exact).agg(sum("n_hit")).head().getLong(0)
    val cbRaw = PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8)
    val raw = PqIndex.searchIvfAdc(ivf, cbRaw, queries, "vec_id", "embedding",
      k = 3, nprobe = 8)
    val resid = PqIndex.searchIvfAdcResidual(ivf, rcb, queries, "vec_id",
      "embedding", k = 3, nprobe = 8)
    assert(hits(resid) >= hits(raw),
      s"residual hits ${hits(resid)} < raw hits ${hits(raw)}")
  }

  test("seededRotation: orthogonal, ±1/8 entries at dim 64, rotate preserves pairwise cosine ranking") {
    val dim = 64
    val rot = PqIndex.seededRotation(dim, seed = 7L)
    // every entry exactly ±2^-3 (float-exact — the cross-engine literal
    // replay in q175 rests on this)
    assert(rot.flatten.forall(v => v == 0.125f || v == -0.125f))
    // R·Rᵀ == I in exact arithmetic: rows are signed Hadamard rows/8,
    // and Hadamard rows are mutually orthogonal with norm² = 64/64 = 1.
    // Entries are ±2^-3 so the double dot products are exact — compare
    // equality, not tolerance.
    for (a <- 0 until dim; b <- a until dim) {
      var s = 0.0
      var j = 0
      while (j < dim) { s += rot(a)(j).toDouble * rot(b)(j).toDouble; j += 1 }
      assert(s == (if (a == b) 1.0 else 0.0), s"row $a · row $b = $s")
    }
    // rotation is a rigid motion: the exact top-k under cosine is the
    // same neighbor set before and after (float rounding in the rotated
    // elements can reorder ties only; ids here are tie-free)
    val rotated = PqIndex.rotate(emb, "vec_id", "embedding", rot)
    val before = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 4), emb, "vec_id", "embedding", k = 5)
      .select("query_id", "rnk", "neighbor_id").collect().toSet
    val after = Similarity.bruteForceTopK(
        rotated.filter(col("vec_id") < 4), rotated, "vec_id", "embedding", k = 5)
      .select("query_id", "rnk", "neighbor_id").collect().toSet
    assert(before == after)
    // deterministic: same seed, same matrix
    assert(PqIndex.seededRotation(dim, 7L).map(_.toSeq).toSeq ==
      rot.map(_.toSeq).toSeq)
  }

  test("trainOpq: near-orthogonal, deterministic, beats the seeded rotation's quantization on anisotropic data") {
    // anisotropic clustered corpus — the decaying-spectrum geometry the
    // trained rotation exists for (Synthetic's proven generator)
    val corpus = spark.range(2000).toDF("vec_id")
      .select(col("vec_id"),
        Synthetic.clusteredEmbedding(col("vec_id"), dim = 64, k = 16,
          seed = 5L, noiseMilli = 300, anisotropic = true).as("embedding"))
      .localCheckpoint(true)
    val (rot, cb) = PqIndex.trainOpq(corpus, "vec_id", "embedding",
      m = 8, ksub = 16, opqIters = 2)
    // ‖RᵀR − I‖∞ < 1e-6: 60 Newton–Schulz iterations reach the polar
    // factor to machine precision on a non-degenerate cross-covariance
    val dim = 64
    var worst = 0.0
    for (a <- 0 until dim; b <- 0 until dim) {
      var s = 0.0; var kk = 0
      while (kk < dim) { s += rot(kk)(a).toDouble * rot(kk)(b).toDouble; kk += 1 }
      worst = math.max(worst, math.abs(s - (if (a == b) 1.0 else 0.0)))
    }
    assert(worst < 1e-6, s"RtR deviates from I by $worst")
    // deterministic end to end (fixed-point sums + fixed-count NS)
    val (rot2, _) = PqIndex.trainOpq(corpus, "vec_id", "embedding",
      m = 8, ksub = 16, opqIters = 2)
    assert(rot2.map(_.toSeq).toSeq == rot.map(_.toSeq).toSeq)
    // the training objective itself: mean exact reconstruction error of
    // (rotation, codebook) — trained must not be worse than the seeded
    // baseline it starts from at the identical m/ksub budget
    def reconErr(rm: Array[Array[Float]], c: PqIndex.Codebook): Double = {
      val rotated = PqIndex.rotate(corpus, "vec_id", "embedding", rm)
      val rows = rotated
        .join(PqIndex.encode(rotated, "vec_id", "embedding", c), Seq("vec_id"))
        .select("embedding", "codes").collect()
      val errs = rows.map { r =>
        val y = r.getSeq[Float](0); val cd = r.getSeq[Int](1)
        var e = 0.0; var j = 0
        while (j < dim) {
          val rec = c.centroids(j / c.dsub)(cd(j / c.dsub))(j % c.dsub)
          val dlt = y(j) - rec; e += dlt * dlt; j += 1
        }
        e
      }
      errs.sum / errs.length
    }
    val seeded = PqIndex.seededRotation(dim, 7L)
    val cbSeeded = PqIndex.train(
      PqIndex.rotate(corpus, "vec_id", "embedding", seeded),
      "vec_id", "embedding", m = 8, ksub = 16)
    val errTrained = reconErr(rot, cb)
    val errSeeded = reconErr(seeded, cbSeeded)
    assert(errTrained <= errSeeded,
      s"trained OPQ reconstruction $errTrained worse than seeded $errSeeded")
  }

  test("ADC distance equals the served-codebook reconstruction distance") {
    // replay one pair by hand: adist_fp must equal the sum over subspaces
    // of floor((|c|² − 2 q_j·c)·1e9) for the neighbor's assigned codes
    val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") === 0)
    val hit = PqIndex.searchADC(cb, codes, queries, "vec_id", "embedding", k = 1)
      .head()
    val neighbor = hit.getLong(2)
    val qVec = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val nCodes = codes.filter(col("vec_id") === neighbor)
      .select("codes").head().getSeq[Int](0).toArray
    val served = cb.served
    var expect = 0L
    for (j <- 0 until cb.m) {
      val cent = served(j)(nCodes(j))
      var n2 = 0.0; var dot = 0.0
      for (i <- 0 until cb.dsub) {
        n2 += cent(i) * cent(i)
        dot += qVec(j * cb.dsub + i).toDouble * cent(i).toFloat.toDouble
      }
      expect += math.floor((n2 - 2.0 * dot) * 1e9).toLong
    }
    assert(hit.getLong(3) == expect)
  }
}
