package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables
import VectorFunctions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("vec_dot matches the interpreted zip_with+aggregate fold bit-for-bit") {
    val emb = Tables(spark, sf(), "embeddings").limit(50)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .limit(500)
    val diff = pairs.select(
      vec_dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("folded"))
      .filter(col("native") =!= col("folded"))
    assert(diff.isEmpty)
  }

  test("null inputs give null, not a crash") {
    val df = Seq((Some(Seq(1.0f, 2.0f)), None: Option[Seq[Float]]))
      .toDF("a", "b")
    val r = df.select(vec_dot(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("mismatched lengths use the shorter vector (defensive)") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(10.0f, 10.0f))).toDF("a", "b")
    assert(df.select(vec_dot(col("a"), col("b"))).head().getDouble(0) == 30.0)
  }

  test("wrong input type fails analysis with a clear message") {
    val df = Seq((Seq(1, 2), Seq(1, 2))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(vec_dot(col("a"), col("b"))).head()
    }
    assert(e.getMessage.contains("array<float>"))
  }

  test("multiple vector expressions in one codegen scope compile (no janino fallback)") {
    // vec_cosine expands to three VectorDots in a single projection;
    // two NearestCell/HyperplaneLshKey instances ride along. With any
    // bare (non-freshName) local in doGenCode, janino rejects the
    // generated class and Spark silently drops to interpreted eval —
    // fallback=false turns that silent degradation into a test failure.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val emb = Tables(spark, sf(), "embeddings").limit(8)
      val cents = Array(Array(0.1, 0.2, 0.3), Array(0.3, 0.2, 0.1))
      val r = emb.select(
          vec_cosine(col("embedding"), col("embedding")).as("c"),
          vec_dot(col("embedding"), col("embedding")).as("d"),
          nearest_cell(col("embedding"), cents).as("n1"),
          nearest_cell(col("embedding"), cents.reverse).as("n2"),
          vec_lsh_key(col("embedding"), 16, 4).as("k1"),
          vec_lsh_key(col("embedding"), 16, 2).as("k2"))
        .collect()
      assert(r.length == 8 && r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-12))
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("vec_cosine self-similarity is 1") {
    val r = Tables(spark, sf(), "embeddings").limit(3)
      .select(vec_cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    r.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("vec_dot is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    Tables(spark, sf(), "embeddings").createOrReplaceTempView("emb_sql")
    val r = spark.sql(
      "SELECT vec_id, vec_dot(embedding, embedding) AS d FROM emb_sql ORDER BY vec_id LIMIT 3")
      .collect()
    assert(r.length == 3 && r.forall(_.getDouble(1) > 0))
  }

  test("vec_lsh_key / sig_match_frac / minhash_agg callable from SQL") {
    GraftExtensions.register(spark)
    Tables(spark, sf(), "embeddings").createOrReplaceTempView("emb_sql2")
    val keys = spark.sql(
      "SELECT vec_lsh_key(embedding, 64, 4) AS k FROM emb_sql2 LIMIT 5").collect()
    assert(keys.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 16))
    val frac = spark.sql(
      "SELECT sig_match_frac(array(1L, 2L, 3L, 4L), array(1L, 2L, 9L, 9L)) AS f")
      .head().getDouble(0)
    assert(frac == 0.5)
    val sig = spark.sql(
      """SELECT minhash_agg(h, 8) AS sig FROM
        |  (SELECT xxhash64(cast(vec_id AS string)) AS h FROM emb_sql2)""".stripMargin)
      .head().getSeq[Long](0)
    assert(sig.length == 8)
  }

  test("declarative GraftExtensions injects strategies, rules, and functions") {
    // the spark.sql.extensions install path, exercised without tearing
    // down the shared test session: apply the extension class to a fresh
    // SparkSessionExtensions and inspect what it registered
    import org.apache.spark.sql.graft.GraftBridge
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(GraftBridge.builtStrategies(ext, spark).contains(graft.plans.AsOfJoinStrategy))
    assert(GraftBridge.builtOptimizerRules(ext, spark)
      .contains(graft.plans.AsOfJoinFilterPushdown))
    val reg = GraftBridge.registeredFunctions(ext,
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())
    Seq("vec_dot", "vec_lsh_key", "sig_match_frac", "minhash_agg").foreach { f =>
      assert(reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f)), f)
    }
  }

  test("expression participates in whole-stage codegen") {
    val emb = Tables(spark, sf(), "embeddings").limit(5)
    val plan = emb.select(vec_dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // '*(n)' marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [vec_dot"), plan)
  }

  test("vec_lsh_key matches the composed element_at projection tree") {
    val dim = 64; val bits = 4
    // the formula the native expression replaced (Similarity.hyperplaneKey
    // pre-round-2): sign bits of sum_i vec[i] * (xxhash64(p*7919+i)%10007)/10007
    val composed = (0 until bits).map { p =>
      val proj = (0 until dim).map { i =>
        val coef = (xxhash64(lit(p * 7919 + i)) % 10007L).cast("double") / 10007.0
        element_at(col("embedding"), i + 1).cast("double") * coef
      }.reduce(_ + _)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    val diff = Tables(spark, sf(), "embeddings").limit(200)
      .select(vec_lsh_key(col("embedding"), dim, bits).as("native"),
        composed.as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(diff.isEmpty)
  }

  test("sig_match_frac matches the zip_with/filter/size fold") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
      (Seq(1L, 2L), Seq(1L, 2L)),
      (Seq.empty[Long], Seq.empty[Long])
    ).toDF("a", "b")
    val r = df.select(sig_match_frac(col("a"), col("b")).as("f")).collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(0.75, 1.0, 0.0))
  }

  test("DistinctWordNgrams == array_distinct(composed) on randomized token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // adversarial shapes: heavy repeats from a tiny vocab, empty-string
    // tokens, unicode, single tokens, lengths straddling every n
    val vocab = Array("a", "bb", "", "δ文", "x y".replace(" ", ""), "tok")
    val docs = (0 until 300).map { i =>
      val len = rnd.nextInt(9) // 0..8 tokens
      (i.toLong, Array.fill(len)(vocab(rnd.nextInt(vocab.length))).toSeq)
    }.toDF("id", "toks")
    for (n <- Seq(1, 2, 3, 4)) {
      val native = TextFunctions.distinct_word_ngrams(col("toks"), n)
      val composed = {
        val w = col("toks")
        array_distinct(when(size(w) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(w) - n),
            i => concat_ws(" ", slice(w, i + lit(1), lit(n))))))
      }
      val bad = docs.select(col("id"), native.as("a"), composed.as("b"))
        .filter(not(col("a") === col("b"))).collect()
      assert(bad.isEmpty, s"n=$n: ${bad.take(3).toSeq}")
    }
  }

  test("vec_quantize_i8 roundtrip error bound on randomized vectors incl. negatives") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextFloat() - 0.5f) * rnd.nextInt(1000)).toSeq)
    }.toDF("id", "v")
    val got = rows.select(col("id"), col("v"),
        VectorFunctions.vec_max_abs(col("v")).cast("double")./(lit(127.0)).as("scale"))
      .select(col("id"), col("v"), col("scale"),
        VectorFunctions.vec_quantize_i8(col("v"), col("scale")).as("q"))
      .collect()
    got.foreach { r =>
      val v = r.getSeq[Float](1); val scale = r.getDouble(2); val q = r.getSeq[Byte](3)
      v.zip(q).foreach { case (x, b) =>
        assert(math.abs(b * scale - x) <= scale / 2 + 1e-9, s"x=$x b=$b scale=$scale")
      }
      assert(q.map(b => math.abs(b.toInt)).max == 127) // range always used
    }
  }

  test("mat_vec_f == composed array(vec_dot(v, typedLit(row)).cast(float)) bit-for-bit") {
    val rot = graft.sim.PqIndex.seededRotation(64, seed = 7L)
    val emb = Tables(spark, sf(), "embeddings").limit(200)
    val composed = array(rot.map(row =>
      VectorFunctions.vec_dot(col("embedding"), typedLit(row.toSeq)).cast("float")): _*)
    val diff = emb.select(
        VectorFunctions.mat_vec_f(col("embedding"), rot).as("a"),
        composed.as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.isEmpty)
  }

  test("pq_dist_table == composed floor((norm − 2·vec_dot(slice, lit))·1e9) entries") {
    val rnd = new scala.util.Random(31)
    val m = 4; val ksub = 8; val dsub = 4
    val served = Array.fill(m, ksub)(Array.fill(dsub)(rnd.nextDouble() * 2 - 1))
    def norm2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }; s
    }
    import spark.implicits._
    val qs = (0 until 100).map(i =>
      (i.toLong, Array.fill(m * dsub)(rnd.nextFloat() * 4 - 2).toSeq)).toDF("id", "q")
    val composed = array((for (j <- 0 until m; c <- 0 until ksub) yield {
      val cent = served(j)(c)
      floor((lit(norm2(cent)) - lit(2.0) *
        VectorFunctions.vec_dot(slice(col("q"), j * dsub + 1, dsub),
          typedLit(cent.map(_.toFloat).toSeq))) * lit(1e9)).cast("long")
    }): _*)
    val diff = qs.select(
        VectorFunctions.pq_dist_table(col("q"), served).as("a"), composed.as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.isEmpty)
  }

  test("pq_adc_dist == interpreted aggregate(zip_with(codes, sequence, element_at)) fold") {
    val rnd = new scala.util.Random(37)
    val m = 4; val ksub = 8
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(m)(rnd.nextInt(ksub)).toSeq,
        Array.fill(m * ksub)(rnd.nextLong() % 1000000000L).toSeq)
    }.toDF("id", "codes", "dtab")
    val composed = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(col("dtab"), j * ksub + c + 1)),
      lit(0L), (acc, x) => acc + x)
    val diff = rows.select(
        VectorFunctions.pq_adc_dist(col("codes"), col("dtab"), ksub).as("a"),
        composed.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.isEmpty)
  }

  test("vec_sub_f == zip_with((a,b) => a − b) incl. unequal lengths") {
    val rnd = new scala.util.Random(41)
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      val na = rnd.nextInt(8); val nb = if (i % 3 == 0) rnd.nextInt(8) else na
      (i.toLong, Array.fill(na)(rnd.nextFloat() * 10 - 5).toSeq,
        Array.fill(nb)(rnd.nextFloat() * 10 - 5).toSeq)
    }.toDF("id", "a", "b")
    val diff = rows.select(
        VectorFunctions.vec_sub_f(col("a"), col("b")).as("x"),
        zip_with(col("a"), col("b"), (p, q) => p - q).as("y"))
      .filter(not(col("x") <=> col("y")))
    assert(diff.isEmpty)
  }

  test("unit_normalize == transform(v, x => x / sqrt(vec_dot(v, v))) bit-for-bit") {
    val emb = Tables(spark, sf(), "embeddings").limit(300)
    val composed = transform(col("embedding"),
      x => (x.cast("double") /
        sqrt(VectorFunctions.vec_dot(col("embedding"), col("embedding"))))
        .cast("float"))
    val diff = emb.select(
        VectorFunctions.unit_normalize(col("embedding")).as("a"),
        composed.as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.isEmpty)
  }

  test("sq_encode == composed zip_with floor form, incl. clamp and zero-diff dims") {
    val rnd = new scala.util.Random(47)
    val dim = 12
    val vmin = Array.fill(dim)(rnd.nextDouble() * 2 - 1.5)
    val vdiff = Array.tabulate(dim)(d => if (d == 5) 0.0 else rnd.nextDouble() + 0.1)
    import spark.implicits._
    val rows = (0 until 300).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 6 - 3).toSeq)).toDF("id", "v")
    val vminL = typedLit(vmin.toSeq); val diffL = typedLit(vdiff.toSeq)
    // inputs span [-3, 3) against ranges inside [-1.5, 1.6): codes
    // below 0 and above 255 are compared too
    val composed = zip_with(col("v"), sequence(lit(1), lit(dim)), (x, d) =>
      when(element_at(diffL, d) === 0.0, lit(0)).otherwise(
        floor(((x.cast("double") - element_at(vminL, d)) /
          element_at(diffL, d)) * lit(255.0)).cast("int")))
    val diff = rows.select(
        VectorFunctions.sq_encode(col("v"), vmin, vdiff).as("a"),
        composed.as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.isEmpty)
  }

  test("hamming_words == aggregate(zip_with(bit_count(xor))) on random words") {
    val rnd = new scala.util.Random(53)
    import spark.implicits._
    val rows = (0 until 300).map(i =>
      (i.toLong, Array.fill(2)(rnd.nextLong() & ((1L << 60) - 1)).toSeq,
        Array.fill(2)(rnd.nextLong() & ((1L << 60) - 1)).toSeq)).toDF("id", "a", "b")
    val composed = aggregate(
      zip_with(col("a"), col("b"), (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val diff = rows.select(
        VectorFunctions.hamming_words(col("a"), col("b")).as("x"), composed.as("y"))
      .filter(col("x") =!= col("y"))
    assert(diff.isEmpty)
  }

  test("bin_sign_pack == composed when/element_at fold on dim-length vectors") {
    val rnd = new scala.util.Random(59)
    val dim = 64
    val means = Array.fill(dim)(rnd.nextDouble() * 0.2 - 0.1)
    import spark.implicits._
    // dim-length vectors only: that is the callers' contract, and the
    // composed element_at form THROWS under ANSI on shorter input
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() - 0.5f).toSeq)
    }.toDF("id", "v")
    val nWords = (dim + 59) / 60
    val composed = array((0 until nWords).map { w =>
      val bits = math.min(60, dim - w * 60)
      (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
        val d = w * 60 + b
        acc.bitwiseOR(
          when(element_at(col("v"), d + 1).cast("double") > lit(means(d)),
            lit(1L << b)).otherwise(lit(0L)))
      }
    }: _*)
    val diff = rows.select(
        VectorFunctions.bin_sign_pack(col("v"), means).as("a"), composed.as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.isEmpty)
  }

  test("minhash_agg matches numPerm separate min(xxhash64(h, i)) aggregates") {
    val numPerm = 16
    val hashed = Tables(spark, sf(), "documents").limit(50)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val viaCols = hashed.groupBy("doc_id")
      .agg((0 until numPerm).map(i => min(xxhash64(col("h"), lit(i))).as(s"m_$i")).head,
        (0 until numPerm).map(i => min(xxhash64(col("h"), lit(i))).as(s"m_$i")).tail: _*)
      .select(col("doc_id"), array((0 until numPerm).map(i => col(s"m_$i")): _*).as("sig"))
    val viaAgg = hashed.groupBy("doc_id")
      .agg(MinHashFunctions.minhash_agg(col("h"), numPerm).as("sig"))
    assert(viaCols.join(viaAgg, "doc_id")
      .filter(viaCols("sig") =!= viaAgg("sig")).isEmpty)
  }
}
