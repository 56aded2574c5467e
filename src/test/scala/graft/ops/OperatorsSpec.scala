package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables
import graft.text.TextAnalysis
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.mm.Multimodal

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokens + shingles on crafted strings") {
    val df = Seq("a b c d", "  x   y  ", "one").toDF("text")
      .select(col("text"),
        TextAnalysis.tokens(col("text")).as("toks"),
        TextAnalysis.wordShingles(col("text"), 3).as("sh3"))
    val rows = df.collect()
    assert(rows(0).getSeq[String](1) == Seq("a", "b", "c", "d"))
    assert(rows(0).getSeq[String](2) == Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](1) == Seq("x", "y"))
    assert(rows(1).getSeq[String](2) == Seq.empty) // shorter than shingle
    assert(rows(2).getSeq[String](2) == Seq.empty)
  }

  test("native word_ngrams == composed wordShingles (all positions, in order)") {
    // same edge set as the distinct twin: repeats, exactly-n, shorter
    // than n, empty, repeated-token shingles
    val texts = Seq("a b a b a b", "x y z", "x y", "", "t t t t")
    val df = texts.toDF("text").select(
      TextAnalysis.wordShingles(col("text"), 2).as("composed"),
      graft.functions.TextFunctions.word_ngrams(
        TextAnalysis.tokens(col("text")), 2).as("native"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
  }

  test("native distinctWordShingles == array_distinct(wordShingles)") {
    // crafted edges: repeats (dedup order), exactly-n tokens, shorter
    // than n, empty, and repeated-token shingles
    val crafted = Seq("a b c d a b c", "x y z", "x y", "", "a a a a",
      "one two three two three one two three").toDF("text")
    val docs = Tables(spark, sf("sf0.01"), "documents").select("text")
    for (df <- Seq(crafted, docs); n <- Seq(2, 3, 5)) {
      val mismatches = df.select(
        TextAnalysis.distinctWordShingles(col("text"), n).as("native"),
        array_distinct(TextAnalysis.wordShingles(col("text"), n)).as("composed"))
        .filter(not(col("native") === col("composed")))
        .collect()
      assert(mismatches.isEmpty, s"n=$n mismatches: ${mismatches.take(3).toSeq}")
    }
  }

  test("chunkDocuments: coverage, overlap, short-doc and boundary edges") {
    // 10 tokens, chunk=4, overlap=1 (step=3) → ceil(9/3)=3 chunks
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"), // shorter than one chunk
      (3L, (1 to 7).map(i => s"t$i").mkString(" ")), // 7 = exactly 0,3 starts
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 4, 1)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(x => (x._2, x._3, x._4)).toSeq ==
      Seq((0, 0, 4), (1, 3, 4), (2, 6, 4)))
    assert(d1(0)._5 == "t1 t2 t3 t4" && d1(1)._5 == "t4 t5 t6 t7" &&
      d1(2)._5 == "t7 t8 t9 t10")
    // consecutive chunks share exactly `overlap` tokens
    assert(d1(0)._5.split(" ").takeRight(1).toSeq == d1(1)._5.split(" ").take(1).toSeq)
    // short doc: one short chunk
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0, 2, "a b")))
    // n=7: chunks [0,4),[3,7) — full coverage, no phantom third chunk
    assert(got.filter(_._1 == 3L).map(x => (x._3, x._4)).toSeq == Seq((0, 4), (3, 4)))
    // empty text tokenizes to [""] → a single 1-token chunk (same as DuckDB)
    assert(got.filter(_._1 == 4L).map(x => (x._2, x._4)).toSeq == Seq((0, 1)))
  }

  test("bpe-ish tokenizer splits letter/digit/punct runs") {
    val got = Seq("abc de-f12,g").toDF("text")
      .select(TextAnalysis.bpeishTokens(col("text"))).head().getSeq[String](0)
    assert(got == Seq("abc", "de", "-", "f", "12", ",", "g"))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      ("the cat sat on the mat and it was good", "en"),
      ("el perro y la casa en un dia", "es"),
      ("der hund und die katze ist von den", "de"),
      ("le chat et la maison les des", "fr"),
      ("zzz qqq www", "und")).toDF("text", "expected")
    val got = df.select(TextAnalysis.langIdExpr(col("text")).as("got"), col("expected"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), s"for ${r}"))
  }

  test("native langIdExpr matches the composed array_intersect form") {
    val docs = Tables(spark, sf(), "documents")
    val both = docs.select(
      TextAnalysis.langIdExpr(col("text")).as("native"),
      TextAnalysis.langIdExprComposed(col("text")).as("composed"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
    // including the tie/no-evidence corners
    val corners = Seq(
      "the el", // en-vs-es tie at score 1 → lexicographically larger wins
      "",       // no tokens → und
      "zzz")    // tokens but no stopword → und
      .toDF("text")
      .select(TextAnalysis.langIdExpr(col("text")).as("native"),
        TextAnalysis.langIdExprComposed(col("text")).as("composed"))
      .collect()
    corners.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("langIdTable matches the expression form on the corpus") {
    val docs = Tables(spark, sf(), "documents")
    val viaExpr = docs.select(col("doc_id"),
      TextAnalysis.langIdExpr(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaTable = TextAnalysis.langIdTable(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaExpr == viaTable)
  }

  test("fingerprint is whitespace/case-insensitive; rolling hash is order-sensitive") {
    val df = Seq(
      ("Hello  World", "hello world", "world hello")).toDF("a", "b", "c")
    val r = df.select(
      TextAnalysis.fingerprint(col("a")) === TextAnalysis.fingerprint(col("b")),
      TextAnalysis.rollingFingerprint(col("b")) === TextAnalysis.rollingFingerprint(col("c")))
      .head()
    assert(r.getBoolean(0))   // normalization collapses case+whitespace
    assert(!r.getBoolean(1))  // token order matters for the rolling hash
  }

  test("bigram fluency: repetitive prose outscores unique-bigram soup") {
    // "a b" × 20 makes every bigram maximally predictable; the second doc
    // has 10 bigrams that each occur once
    val docs = Seq(
      (1L, Seq.fill(20)("a b").mkString(" ")),
      (2L, (0 to 10).map(i => s"w$i").mkString(" ")),
      (3L, "solo")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramFluency(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val fluent = r(0).getDouble(2)
    val soup = r(1).getDouble(2)
    assert(fluent > soup, s"fluent=$fluent soup=$soup")
    assert(r(2).getLong(1) == 0L && r(2).isNullAt(2))  // <2 tokens → no score
  }

  test("dupSentenceStats: repeated sentences counted, shuffle-free plan") {
    val docs = Seq(
      (1L, "alpha beta. gamma delta. alpha beta. epsilon"),
      (2L, "one two. three four"),
      (3L, "same. same. same")).toDF("doc_id", "text")
    val q = TextAnalysis.dupSentenceStats(docs, "text", "doc_id")
    val r = q.orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 4 && r(0).getLong(2) == 1)     // 1 of 4 repeated
    assert(r(0).getDouble(3) == 0.25)
    assert(r(1).getLong(2) == 0 && r(1).getDouble(4) == 0.0) // clean doc
    assert(r(2).getLong(2) == 2)                             // "same" ×3
    assert(math.abs(r(2).getDouble(4) - 8.0 / 12.0) < 1e-12)
    // pure per-row computation: no exchange anywhere in the plan
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("temperatureMixture: sqrt-flattened budgets, selection fits them") {
    val docs = ((1 to 16).map(i => (i.toLong, "big", ("tok " * 10).trim)) ++
      Seq((100L, "small", ("tok " * 10).trim)))
      .toDF("doc_id", "src", "text")
    val sel = TextAnalysis.temperatureMixture(docs, "text", "doc_id",
      "src", col("doc_id"), totalBudget = 1000L)
    val byGroup = sel.groupBy("src")
      .agg(first(col("budget_tokens")).as("b"), sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (bBig, tBig) = byGroup("big")
    val (bSmall, tSmall) = byGroup("small")
    // proportional would give 16:1; sqrt flattens to 4:1
    assert((bBig.toDouble / bSmall - 4.0).abs < 0.05, // ±rounding of div
      s"big=$bBig small=$bSmall")
    assert(bBig + bSmall <= 1000)
    assert(tBig <= bBig && tSmall <= bSmall) // selection honors the budget
  }

  test("blocklistFilter: weighted hits, density cut, zero shuffles") {
    val docs = Seq(
      (1L, "clean words only here"),                  // no hits
      (2L, "bad bad bad stuff"),                      // 3/4 flagged
      (3L, "one bad token in a longer document of many words total")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.blocklistFilter(docs, "doc_id", "text",
      Seq("bad" -> 5L, "stuff" -> 1L), maxDensity = 0.2)
    val r = q.orderBy("doc_id").collect()
    assert(r(0).getLong(2) == 0 && r(0).getLong(3) == 0 && r(0).getBoolean(5))
    assert(r(1).getLong(2) == 4 && r(1).getLong(3) == 16) // 3×5 + 1×1
    assert(!r(1).getBoolean(5))                           // density 1.0
    assert(r(2).getLong(2) == 1 && r(2).getBoolean(5))    // 1/11 <= 0.2
    // lexicon is a plan literal: pure per-row fold, no exchange at all
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistFilter(docs, "doc_id", "text",
        Seq("bad" -> 0L), 0.0)
    }
    // null text yields NO row (matching a per-token unnest), not a row
    // of all-NULL counts
    val withNull = Seq((1L, Some("bad words")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    assert(TextAnalysis.blocklistFilter(withNull, "doc_id", "text",
      Seq("bad" -> 1L), 0.5).count() == 1)
  }

  test("gopherRules: each rule flips the gate independently; zero-shuffle plan") {
    val docs = Seq(
      (1L, ("the a " + "word " * 30).trim),  // passes every rule
      (2L, ("the a " + "word " * 5).trim),   // n_words < 20
      (3L, ("the a " + "x " * 40).trim),     // mean_word_len < 3
      (4L, ("the a " + "#### " * 30).trim),  // alpha frac + symbol ratio
      (5L, ("word " * 30).trim)              // no stopword hits
    ).toDF("doc_id", "text")
    val q = TextAnalysis.gopherRules(docs, "text", "doc_id",
      minWords = 20, maxWords = 100, stopSet = Seq("the", "a"))
    val r = q.orderBy("doc_id").collect()
    assert(r(0).getBoolean(6))
    assert(!r(1).getBoolean(6) && r(1).getLong(1) == 7)
    assert(!r(2).getBoolean(6) && r(2).getDouble(2) < 3.0)
    assert(!r(3).getBoolean(6) && r(3).getDouble(3) < 0.8 &&
      r(3).getDouble(4) > 0.1)
    assert(!r(4).getBoolean(6) && r(4).getLong(5) == 0)
    assert(r(0).getLong(5) == 2) // 'the' and 'a' both present, counted once
    // pure per-row computation: no exchange anywhere in the plan
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("bpePairCounts: hand-counted pairs, weighted by word frequency") {
    // vocab: ab×3, cd×1, abc×1, x×1 (single char → no pairs)
    // pairs: ab→'ab' (weight 3), cd→'cd' (1), abc→'ab','bc' (1 each)
    val docs = Seq((1L, "ab ab cd x"), (2L, "ab abc")).toDF("doc_id", "text")
    val r = TextAnalysis.bpePairCounts(docs, "text", topN = 10).collect()
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq ==
      Seq((1L, "ab", 4L), (2L, "bc", 1L), (3L, "cd", 1L)))
  }

  test("hashedBowEmbedding: deterministic, dim-sized, one ±1 per token") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha alpha beta gamma")).toDF("doc_id", "text")
    val r = TextAnalysis.hashedBowEmbedding(docs, "text", "doc_id", dim = 8)
      .orderBy("doc_id").collect()
    val v1 = r(0).getSeq[Long](1)
    val v2 = r(1).getSeq[Long](1)
    val v3 = r(2).getSeq[Long](1)
    assert(v1.size == 8)
    assert(v1 == v2) // same text → identical vector
    // exact replay of the hash family: h60 = first 15 hex chars of md5,
    // cell = h mod dim, sign = bit 59
    def cellSign(tok: String): (Int, Long) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(d.take(15), 16)
      ((h % 8).toInt, if (((h >> 59) & 1L) == 1L) 1L else -1L)
    }
    def expected(toks: Seq[String]): Seq[Long] = {
      val acc = Array.fill(8)(0L)
      toks.foreach { t => val (j, s) = cellSign(t); acc(j) += s }
      acc.toSeq
    }
    assert(v1 == expected(Seq("alpha", "beta", "gamma")))
    assert(v3 == expected(Seq("alpha", "alpha", "beta", "gamma")))
    // doubling one token moves exactly that token's cell by exactly ±1
    val diffs = (0 until 8).filter(i => v3(i) != v1(i))
    assert(diffs.size == 1 && math.abs(v3(diffs.head) - v1(diffs.head)) == 1)
    // layout-invariant: the per-doc assembly goes through map_from_entries
    // (key-addressed), so collect_list's partition-dependent order can
    // never reorder cells
    val re = TextAnalysis.hashedBowEmbedding(docs.repartition(7), "text",
      "doc_id", dim = 8).orderBy("doc_id").collect()
    assert(re.map(_.getSeq[Long](1)).toSeq == r.map(_.getSeq[Long](1)).toSeq)
  }

  test("sourceDriftStats: disjoint vocabulary drifts, twin sources tie, single source is empty") {
    val docs = Seq(
      (1L, "srcA", "aaa aaa bbb"),
      (2L, "srcA", "aaa bbb bbb"),
      (3L, "srcB", "aaa aaa bbb"),
      (4L, "srcB", "aaa bbb bbb"),
      (5L, "srcC", "zzz zzz yyy yyy")).toDF("doc_id", "source", "text")
    val r = TextAnalysis.sourceDriftStats(docs, "text", "source", topN = 3)
      .select("source", "src_drift_fp").distinct()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // srcC's vocabulary is disjoint from the rest → far larger drift
    // (two-sided scoring: A and B also drift on the zzz/yyy tokens they
    // lack, so C's margin is ~4×, not orders of magnitude)
    assert(r("srcC") > r("srcA") * 3, r.toString)
    // srcA and srcB carry identical distributions AND identical rests
    // (each other's tokens are the same multiset) → exactly equal drift
    assert(r("srcA") == r("srcB"))
    // a single-source corpus has no "rest" to drift from → empty result
    assert(TextAnalysis.sourceDriftStats(
      docs.filter(col("source") === "srcA"), "text", "source", 3).count() == 0)
  }

  test("sourceDriftStats is two-sided: a token a source went silent on still drifts") {
    val docs = Seq(
      (1L, "s1", "common common common hot hot hot"),
      (2L, "s2", "common common common")).toDF("doc_id", "source", "text")
    val s2 = TextAnalysis.sourceDriftStats(docs, "text", "source", topN = 2)
      .filter(col("source") === "s2").collect()
    // 'hot' never occurs in s2, yet it is a top drifting token there —
    // the "crawl batch dropped a topic" event one-sided scoring misses
    assert(s2.exists(r => r.getString(2) == "hot" && r.getLong(3) > 0),
      s2.mkString(";"))
    intercept[IllegalArgumentException] {
      TextAnalysis.sourceDriftStats(docs, "text", "source", 2,
        scale = 3000000000L)
    }
  }

  test("vocabCoverage: deterministic curve, monotone, total at full vocab") {
    // counts: aa×4, bb×2, cc×1, dd×1 (ties cc/dd break by token asc)
    val corp = Seq((1L, "aa aa bb cc"), (2L, "aa aa bb dd"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.vocabCoverage(corp, "text", sizes = Seq(1, 2, 3, 10))
      .orderBy("vocab_size").collect()
      .map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r(0) == (1, (1L, 4L, 0.5)))        // top-1: aa covers 4/8
    assert(r(1) == (2, (2L, 6L, 0.75)))       // + bb
    assert(r(2) == (3, (3L, 7L, 7.0 / 8.0)))  // + cc (tie-break by token)
    assert(r(3) == (10, (4L, 8L, 1.0)))       // whole vocab covers everything
  }

  test("domain classifier: planted vocabularies separate; OOV doc scores exactly neutral") {
    val labeled = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta beta alpha", true),
      (3L, "gamma delta gamma delta", false),
      (4L, "gamma delta delta gamma", false)
    ).toDF("doc_id", "text", "is_target")
    val w = TextAnalysis.trainTokenWeights(labeled, "text", col("is_target"))
    // pure-target tokens hit 10⁶, pure-background 0
    val byTok = w.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTok("alpha") == 1000000L && byTok("gamma") == 0L)
    val scored = TextAnalysis.scoreByTokenWeights(Seq(
      (10L, "alpha beta"),            // all target vocabulary
      (11L, "gamma delta"),           // all background
      (12L, "alpha gamma"),           // split — exactly the midpoint
      (13L, "zulu xray")              // fully OOV — neutral prior
    ).toDF("doc_id", "text"), "doc_id", "text", w)
    val r = scored.orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    assert(r(0) == ((10L, 1000000L, 1)))
    assert(r(1) == ((11L, 0L, 0)))
    assert(r(2) == ((12L, 500000L, 1)))
    assert(r(3) == ((13L, 500000L, 1)))
    // scoring never shuffles the token stream on token: the weight side
    // is broadcast, the only exchanges key on doc_id
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("importanceResample: target-like docs outrank off-target ones") {
    // target speaks "cats purr softly"; raw has two target-like docs,
    // two off-target docs, and one with no bigrams at all
    val target = Seq((100L, "t", "cats purr softly cats purr"))
      .toDF("doc_id", "src", "text")
    val raw = Seq(
      (1L, "cats purr softly all day"),
      (2L, "cats purr and purr softly"),
      (3L, "stock prices fell sharply today"),
      (4L, "quarterly earnings beat forecasts"),
      (5L, "single-token")).toDF("doc_id", "text")
    val sel = TextAnalysis.importanceResample(raw, target.select("doc_id", "text"),
      "doc_id", "text", buckets = 4096, keep = 5)
    val rows = sel.collect()
    assert(rows.length == 5)
    val score = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // both cat docs above both finance docs; the bigram-less doc is 0
    assert(score(1L) > score(3L) && score(1L) > score(4L))
    assert(score(2L) > score(3L) && score(2L) > score(4L))
    assert(score(5L) == 0.0 &&
      rows.find(_.getLong(0) == 5L).get.getLong(1) == 0L)
    // output honors the (score desc, id asc) order and the keep cap
    assert(rows.map(_.getDouble(2)).sliding(2).forall(p => p(0) >= p(1)))
    assert(TextAnalysis.importanceResample(raw,
      target.select("doc_id", "text"), "doc_id", "text", 4096, 2)
      .collect().length == 2)
  }

  test("rareTokenStats: collision-free width gives exact rare counts") {
    val docs = Seq((1L, "a a a b"), (2L, "a a a c"), (3L, "a a a a"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.rareTokenStats(docs, "text", "doc_id",
        threshold = 2L, width = 1 << 16)
      .orderBy("doc_id").collect()
    // a occurs 10×; b and c once each → rare under threshold 2
    assert(r(0).getLong(1) == 4 && r(0).getLong(2) == 1)
    assert(r(1).getLong(2) == 1)
    assert(r(2).getLong(2) == 0)
    assert(math.abs(r(0).getDouble(3) - 0.25) < 1e-12)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // base corpus + an exact dup + a near dup (one token changed)
  private lazy val docs = {
    val base = Tables(spark, sf(), "documents").select("doc_id", "text")
    val src = base.filter(col("doc_id") === 0).head().getString(1)
    val nearDup = src.split(" ").toSeq.updated(1, "XYZZY").mkString(" ")
    base.unionAll(Seq((100000L, src), (100001L, nearDup)).toDF("doc_id", "text"))
  }

  test("containmentPairs: a subset doc has containment 1.0 in its source, asymmetric") {
    // A's shingle set is a strict subset of B's (B = A + a suffix):
    // C(A,B) = 1.0 while C(B,A) = |A|/|B| — the truncation signal a
    // symmetric Jaccard cut would hide
    val corp = Seq(
      (1L, "alpha beta gamma delta"),                          // 2 shingles
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),   // 6 shingles
      (3L, "totally different words here now")
    ).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(corp, "text", "doc_id", shingleN = 3,
      threshold = 0.05).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r((1L, 2L)) == 1.0)            // A fully inside B
    assert(r((2L, 1L)) == 2.0 / 6.0)      // B only partially inside A
    assert(!r.keySet.exists(p => p._1 == 3L || p._2 == 3L)) // disjoint doc absent
  }

  test("leakageSafeSplit: near-dup clusters move between splits as one unit") {
    // three copies → one cluster (the pair-finding itself is covered by
    // the simHashNearDups tests; this unit is cluster-level split
    // consistency — on a 10-token doc even a one-token swap can flip >3
    // fingerprint bits, so exact copies keep the fixture deterministic)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corp = Seq(
      (1L, base), (2L, base), (3L, base),
      (10L, "totally different content about other things entirely now")
    ).toDF("doc_id", "text")
    val r = Dedup.leakageSafeSplit(corp, "text", "doc_id", maxHamming = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    // the cluster collapses to one group (min id) with ONE split for all
    assert(r(1L)._1 == 1L && r(2L)._1 == 1L && r(3L)._1 == 1L)
    assert(Set(r(1L)._2, r(2L)._2, r(3L)._2).size == 1)
    // an unpaired doc keeps its own id as group; its split follows the
    // same md5-last-hex-char rule as the per-doc splitter
    assert(r(10L)._1 == 10L)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("10".getBytes("UTF-8")).map("%02x".format(_)).mkString.charAt(31)
    val exp = if (hex < 'c') "train" else if (hex < 'e') "val" else "test"
    assert(r(10L)._2 == exp)
  }

  test("connectedComponents: chains, disjoint clusters, singleton exclusion") {
    // a 6-vertex PATH (3-7-2-9-4-8, needs several propagation rounds to
    // carry the min to the far end), one triangle with a redundant edge,
    // and an isolated pair
    val pairs = Seq(
      (3L, 7L), (7L, 2L), (2L, 9L), (9L, 4L), (4L, 8L), // path, min=2
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle, min=20
      (50L, 40L) // pair, min=40
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    val byId = got.map(t => t._1 -> t).toMap
    // every path vertex labels to 2, cluster size 6
    Seq(2L, 3L, 4L, 7L, 8L, 9L).foreach { v =>
      assert(byId(v)._2 == 2L && byId(v)._3 == 6L, s"v=$v got ${byId(v)}")
    }
    Seq(20L, 21L, 22L).foreach(v => assert(byId(v)._2 == 20L && byId(v)._3 == 3L))
    Seq(40L, 50L).foreach(v => assert(byId(v)._2 == 40L && byId(v)._3 == 2L))
    // keep marks exactly the per-cluster minimum
    assert(got.filter(_._4).map(_._1).toSeq == Seq(2L, 20L, 40L))
    // only vertices that appear in pairs are emitted
    assert(got.length == 11)
  }

  test("appendComponents: bridge merges standing clusters; new singleton pair; unpaired absent") {
    // standing clusters {2,3,7} and {9,40} from "yesterday's" pairs
    val oldPairs = Seq((3L, 7L), (7L, 2L), (9L, 40L)).toDF("id_a", "id_b")
    val standing = Dedup.connectedComponents(oldPairs, "id_a", "id_b")
    // today: 100-7 bridges NOTHING new in, 7-9 BRIDGES the two standing
    // clusters (labels must merge to the global min 2), 60-61 is a brand
    // new isolated pair; doc 999 arrives pairless and must NOT be emitted
    val newPairs = Seq((100L, 7L), (7L, 9L), (60L, 61L)).toDF("id_a", "id_b")
    val got = Dedup.appendComponents(standing, newPairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val byId = got.map(t => t._1 -> t).toMap
    Seq(2L, 3L, 7L, 9L, 40L, 100L).foreach { v =>
      assert(byId(v)._2 == 2L && byId(v)._3 == 6L, s"v=$v got ${byId(v)}")
    }
    Seq(60L, 61L).foreach(v => assert(byId(v)._2 == 60L && byId(v)._3 == 2L))
    assert(got.length == 8)
    // the identity the operator ships on: incremental == full recompute
    val full = Dedup.connectedComponents(
      oldPairs.unionByName(newPairs), "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == full.toSeq)
  }

  test("simHashNearDupsAgainst: exactly the pairs touching the new batch, on real docs") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val got = Dedup.simHashNearDupsAgainst(newDocs, docs, "text", "doc_id",
        maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute truth: the full pair list, filtered to pairs with >= 1 new end
    val all = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = all.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // and NEVER an old×old pair, whatever the corpus
    assert(got.forall(p => p._1 % 10 == 0 || p._2 % 10 == 0))
  }

  test("duplicateSpansLadder: edited 200-token clone excised whole with scale evidence; fixed form fragments it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = (0 until 200).map(i => s"d$i")
    // docB carries the clone with point edits at clone offsets 60 and
    // 130 — every 10-window crossing an edit dies, leaving one-token
    // gaps; docC is an exact clone
    val dEdited = d.updated(60, "EDIT1").updated(130, "EDIT2")
    def doc(prefix: String, body: Seq[String]) =
      ((0 until 50).map(i => s"${prefix}u$i") ++ body ++
        (0 until 50).map(i => s"${prefix}v$i")).mkString(" ")
    val docs = Seq(
      (1L, doc("a", d)), (2L, doc("b", dEdited)), (3L, doc("c", d)))
      .toDF("doc_id", "text")
    // the fixed 10-token form fragments the edited clone (three islands
    // split by the edits' one-token gaps)
    val fixedB = Dedup.duplicateSpans(docs, "text", "doc_id", n = 10)
      .filter(col("doc_id") === 2L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(fixedB.length == 3, s"expected 3 fragments, got $fixedB")
    assert(fixedB.head._1 == 50L && fixedB.last._2 == 250L)
    // the ladder excises it WHOLE, with the largest surviving run's
    // scale as evidence (runs of 60-69 tokens → scale 40)
    val ladder = Dedup.duplicateSpansLadder(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    val b = ladder.filter(_._1 == 2L).toSeq
    assert(b == Seq((2L, 50L, 250L, 200L, 40)), s"edited clone: $b")
    // the exact clone carries 160-window evidence
    val c = ladder.filter(_._1 == 3L).toSeq
    assert(c == Seq((3L, 50L, 250L, 200L, 160)), s"exact clone: $c")
    // the survivor (first occurrence) is never excised
    assert(!ladder.exists(_._1 == 1L))
  }

  test("simHashWideNearDupsAgainst == brute two-half hamming over new×all; never old×old") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val got = Dedup.simHashWideNearDupsAgainst(newDocs, docs, "text",
        "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    // brute truth straight from the fingerprints: every (new, any) pair
    // within two-half hamming <= 3 — independent of the blocked path
    val fps = Dedup.simHashWideTable(docs, "text", "doc_id")
      .collect().filterNot(_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      n <- fps if n._1 % 10 == 0
      o <- fps if o._1 != n._1
      h = java.lang.Long.bitCount(n._2 ^ o._2) +
        java.lang.Long.bitCount(n._3 ^ o._3)
      if h <= 3
    } yield (math.min(n._1, o._1), math.max(n._1, o._1), h.toLong)).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    // the restriction identity: == the full wide closure's pairs
    // touching the new batch
    val full = Dedup.simHashWideNearDups(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(got == full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0))
    assert(got.forall(p => p._1 % 10 == 0 || p._2 % 10 == 0))
  }

  test("q170 composition: incremental clusters == batch recompute on real docs; delta form identical") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
    val standing = Dedup.connectedComponents(
      Dedup.simHashNearDups(docs.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", maxHamming = 2), "id_a", "id_b")
      .localCheckpoint(true)
    val newPairs = Dedup.simHashNearDupsAgainst(
        docs.filter(col("doc_id") % 10 === 0),
        docs, "text", "doc_id", maxHamming = 2)
      .localCheckpoint(true)
    val inc = Dedup.appendComponents(standing, newPairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    // the delta fold (closure over touched components only, untouched
    // rows pass through) must be row-for-row identical — and the
    // restriction must actually bite: this corpus has components no new
    // pair touches
    val delta = Dedup.appendComponentsDelta(standing, newPairs,
        "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    assert(delta == inc)
    val pairIds = newPairs.select(col("id_a").as("id"))
      .unionByName(newPairs.select(col("id_b").as("id"))).distinct()
    val touched = standing.join(pairIds, Seq("id"), "left_semi")
      .select("component").distinct().count()
    val total = standing.select("component").distinct().count()
    assert(touched < total,
      s"every component touched ($touched of $total) — pass-through path unexercised")
    val batch = Dedup.connectedComponents(
      Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 2),
      "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    assert(inc == batch)
  }

  test("canonicalPerCluster: highest score survives, ties break to lowest id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val attrs = Seq(
      (1L, 40L), (2L, 90L), (3L, 90L), // 2 and 3 tie at 90 → 2 wins
      (10L, 5L), (11L, 7L)             // 11 wins outright
    ).toDF("doc_id", "len")
    val got = Dedup.canonicalPerCluster(
      Dedup.connectedComponents(pairs, "id_a", "id_b"), attrs, "doc_id", "len")
      .collect().map(r => (r.getLong(0), r.getInt(4))).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 0, 10L -> 0, 11L -> 1))
  }

  test("connectedComponents: 120-vertex chain forces multi-generation convergence") {
    // a single path 1-2-3-…-120: diameter 119, so the min label must
    // travel the whole chain through several double-jump+neighbor-min
    // generations — the distributed convergence loop itself is under
    // test (a one-generation bug would still pass the short fixtures
    // above, which the driver path labels).
    // Worst label-ordering: ascending ids, min at one END of the path.
    val n = 120
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsDistributed(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), s"unmerged labels: ${got.filter(_._2 != 1L).take(5).toSeq}")
    assert(got.forall(_._3 == n.toLong))
    // same chain with ids REVERSED (min at the other end) and shuffled
    // pair order — label choice must be content-determined
    val pairs2 = new scala.util.Random(42).shuffle(
      (1 until n).map(i => ((n - i + 1).toLong, (n - i).toLong)).toList)
      .toDF("id_a", "id_b")
    val got2 = Dedup.connectedComponentsDistributed(pairs2, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.forall(_._2 == 1L))
  }

  test("connectedComponents: the loop failing to reach its fixpoint throws") {
    val pairs = (1 until 120).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponentsDistributed(pairs, "id_a", "id_b", maxIter = 1)
    }
    assert(ex.getMessage.contains("maxIter=1"))
  }

  test("connectedComponents: a null id fails naming its column, on both paths") {
    val pairs = Seq((Some(1L), None), (Some(2L), Some(3L)), (Some(3L), Some(4L)))
      .toDF("id_a", "id_b")
    val driver = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
    assert(driver.getMessage.contains("'id_b'"), driver.getMessage)
    val loop = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsDistributed(pairs.select($"id_b".as("id_a"), $"id_a".as("id_b")),
        "id_a", "id_b")
    }
    assert(loop.getMessage.contains("'id_a'"), loop.getMessage)
  }

  test("connectedComponents: driver and distributed paths give identical rows and schema") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1).toSeq
    def same(pairs: org.apache.spark.sql.DataFrame, driver: Boolean): Unit = {
      val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      assert(got.queryExecution.logical.isInstanceOf[LocalRelation] == driver)
      val want = Dedup.connectedComponentsDistributed(pairs, "id_a", "id_b")
      assert(got.schema == want.schema, s"${got.schema} vs ${want.schema}")
      assert(rows(got) == rows(want))
    }
    val rnd = new scala.util.Random(3)
    // random graphs: sparse (many small clusters) and dense (few large)
    for (n <- Seq(50, 400); m <- Seq(n / 2, 2 * n)) {
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("id_a", "id_b")
      same(pairs, driver = true)
    }
    same(Seq.empty[(Long, Long)].toDF("id_a", "id_b"), driver = true)
    // chains, ascending and shuffled descending, and nullable id columns
    same((1 until 60).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b"), driver = true)
    same(rnd.shuffle((1 until 60).map(i => (Option(61L - i), Option(60L - i))))
      .toDF("id_a", "id_b"), driver = true)
    // at the edge budget the driver labels; one edge row more, the loop.
    // k disjoint pairs are 4k edge rows (both directions, two self-loops);
    // a pair (x, x) of a new id adds one
    val budget = Dedup.CcDriverMaxEdges
    val k = budget / 4
    val atBudget = (0L until k).map(i => (2 * i, 2 * i + 1)).toDF("id_a", "id_b")
    same(atBudget, driver = true)
    same(atBudget.union(Seq((2 * k, 2 * k)).toDF("id_a", "id_b")), driver = false)
  }

  test("q179 runs at most 30 Spark jobs") {
    val (rows, jobs) = graft.pipeline.JobCount(spark, "q179-jobs")(
      graft.SparkEntry.queries("q179_incremental_components_delta")(spark, sf("sf0.1")).collect())
    assert(rows.length == 370)
    assert(jobs <= 30, s"$jobs jobs")
  }

  test("duplicateSpans: first occurrence survives, overlapping windows merge, short repeats ignored") {
    // doc 1: the source text. doc 2: copies tokens 0..11 of doc 1 (a
    // 12-token repeat = three overlapping 10-windows → ONE merged span
    // [0,12)), then unique tail. doc 3: repeats doc 1's tokens WITHIN
    // itself at offset 20 (within-corpus second occurrence). doc 4:
    // shares only a 9-token run — below the window, no span.
    val base = (0 until 30).map(i => s"w$i")
    val doc1 = base.mkString(" ")
    val doc2 = (base.take(12) ++ (0 until 18).map(i => s"u$i")).mkString(" ")
    val doc3 = ((0 until 20).map(i => s"v$i") ++ base.take(10)).mkString(" ")
    val doc4 = (base.take(9) ++ (0 until 21).map(i => s"z$i")).mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, doc4))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "text", "doc_id", n = 10)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 is the global first occurrence everywhere → no spans;
    // doc 2's 12-token copy merges to one [0,12) span;
    // doc 3's 10-token copy is exactly [20,30); doc 4 clean
    assert(got.toSeq == Seq((2L, 0L, 12L, 12L), (3L, 20L, 30L, 10L)), s"got ${got.toSeq}")
  }

  test("duplicateSpans: disjoint repeats stay separate spans") {
    val rep1 = (0 until 10).map(i => s"a$i")
    val rep2 = (0 until 10).map(i => s"b$i")
    val doc1 = (rep1 ++ Seq("x0", "x1", "x2") ++ rep2).mkString(" ")
    // copy both repeats separated by DIFFERENT middle tokens → two
    // spans [0,10) and [13,23), not one
    val doc2 = (rep1 ++ Seq("y0", "y1", "y2") ++ rep2).mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "text", "doc_id", n = 10)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((2L, 0L, 10L), (2L, 13L, 23L)), s"got ${got.toSeq}")
  }

  test("sentenceDedup: cross-doc boilerplate removed, order kept, within-doc dups") {
    val corpus = Seq(
      (1L, "unique one. SHARED FOOTER. unique two"),
      (2L, "other text. SHARED FOOTER. more text"),
      (3L, "alpha. alpha. beta"), // within-doc duplicate sentence
      (4L, "SHARED FOOTER")) // doc that is ONLY boilerplate
      .toDF("doc_id", "text")
    val got = Dedup.sentenceDedup(corpus, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 3L, 3L, "unique one. SHARED FOOTER. unique two")))
    // doc 2 loses the footer (doc 1 got there first), order preserved
    assert(got(1) == ((2L, 3L, 2L, "other text. more text")))
    // within-doc duplicate: first occurrence survives
    assert(got(2) == ((3L, 3L, 2L, "alpha. beta")))
    // a document of pure boilerplate collapses to empty, not a lost row
    assert(got(3) == ((4L, 1L, 0L, "")))
  }

  test("scrubEvalSentences excises only overlapping sentences; fully-dirty docs stay") {
    val eval = Seq((100L, "the secret benchmark question about spark engines"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // sentence 2 quotes >= 5 consecutive eval tokens → excised
      (1L, "perfectly clean opening sentence here. they quoted the secret benchmark question about spark verbatim. and a clean closer"),
      (2L, "nothing in common with the eval set at all"),
      // the whole doc IS the eval text → everything excised, row kept
      (3L, "the secret benchmark question about spark engines")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubEvalSentences(corpus, eval, "text", "doc_id", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 3L, 2L,
      "perfectly clean opening sentence here. and a clean closer")))
    assert(got(1) == ((2L, 1L, 1L, "nothing in common with the eval set at all")))
    assert(got(2) == ((3L, 1L, 0L, "")))
  }

  test("dedupAgainstReference: exact + near flags, reference never flagged") {
    val base = (1 to 60).map(i => s"w${i % 37}tok$i").mkString(" ")
    val ref = Seq(
      (1L, base),
      (2L, "completely unrelated reference content about databases"))
      .toDF("doc_id", "text")
    val newBatch = Seq(
      (100L, base), // exact (case changes would also count: fingerprint lowercases)
      // reordered tokens: simhash is a BAG of tokens (hamming 0) while
      // the exact fingerprint is order-sensitive — near-dup, not exact
      (101L, base.split(" ").reverse.mkString(" ")),
      (102L, "fresh novel text with no counterpart whatsoever anywhere"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstReference(newBatch, ref, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3)))
    assert(got(0) == ((100L, 1, 1, 0))) // exact implies near at distance 0
    assert(got(1) == ((101L, 0, 1, 0))) // same bag, different order
    assert(got(2) == ((102L, 0, 0, -1)))
    assert(got.length == 3) // only the new batch is scored

    // the wide form keeps the identical output contract on the same
    // fixture: bag-equality still lands at wide hamming 0 (both 60-bit
    // vote families see the same token multiset), novel text stays
    // unflagged under the stricter 120-bit criterion
    val wide = Dedup.dedupAgainstReferenceWide(newBatch, ref, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3)))
    assert(wide.toSeq == got.toSeq)
  }

  test("exact dedup finds the injected exact duplicate, keeps min id") {
    val groups = Dedup.dupGroups(docs, "text", "doc_id")
      .filter(col("n_copies") > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keep_id") == 0L)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
    assert(kept.count() == docs.count() - 1)
    assert(kept.filter(col("doc_id") === 100000L).isEmpty)
  }

  test("exact dedup preserves a caller's own fp column, no ambiguous output") {
    import spark.implicits._
    val df = Seq((1L, "same text", "user-fp-1"), (2L, "same text", "user-fp-2"))
      .toDF("doc_id", "text", "fp")
    val kept = Dedup.exactDedup(df, "text", "doc_id")
    val row = kept.head()
    assert(kept.count() == 1 && row.getAs[Long]("doc_id") == 1L)
    // the survivor's OWN fp value survives, and select("fp") stays
    // unambiguous (exactly one fp column in the output)
    assert(kept.columns.count(_ == "fp") == 1)
    assert(kept.select("fp").head().getString(0) == "user-fp-1")
  }

  test("LSH band geometry that slices past the signature fails loudly") {
    intercept[IllegalArgumentException] {
      Dedup.minHashNearDups(docs, "text", "doc_id", numPerm = 32) // 16*4 > 32
    }
    intercept[IllegalArgumentException] {
      Dedup.saveLshIndex(docs, "text", "doc_id", "/tmp/never_written",
        numPerm = 8, bands = 16, rows = 4)
    }
  }

  test("simHashTable: null text gets a NULL fingerprint and never pairs") {
    import spark.implicits._
    val df = Seq((1L, Some("real words here")), (2L, None: Option[String]),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val fps = Dedup.simHashTable(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(fps(1L).isDefined && fps(2L).isEmpty && fps(3L).isEmpty)
    // two null-text docs must NOT become hamming-0 "duplicates"
    val pairs = Dedup.simHashNearDups(df, "text", "doc_id").collect()
    assert(pairs.isEmpty)
  }

  test("decontaminate flags n-gram overlap with the eval set only") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),       // shares the eval 8-gram window
      (2L, "one two three four five six seven eight nine"), // disjoint
      (3L, "short doc"),                  // < n tokens → never flagged
      (4L, "x a b c d e f g h y")         // contains eval 8-gram a..h inside
    ).toDF("doc_id", "text")
    val eval = Seq((99L, "a b c d e f g h")).toDF("doc_id", "text")
    val r = Dedup.decontaminate(corpus, eval, "text", "doc_id", n = 8)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
    assert(r.toSeq == Seq(
      (1L, 1L, true),   // one matching 8-gram (a..h)
      (2L, 0L, false),
      (3L, 0L, false),
      (4L, 1L, true)))
  }

  test("minhash LSH finds exact + near dup pair, estimates high jaccard") {
    val pairs = Dedup.minHashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exactPair = pairs.find(p => p._1 == 0L && p._2 == 100000L)
    assert(exactPair.nonEmpty, s"exact dup not found in $pairs")
    assert(exactPair.get._3 == 1.0)
    assert(pairs.exists(p => (p._1 == 0L && p._2 == 100001L) ||
      (p._1 == 100000L && p._2 == 100001L)), s"near dup not found in $pairs")
  }

  test("minhash estimate tracks exact jaccard on the near-dup pair") {
    val subset = docs.filter(col("doc_id").isin(0L, 100001L))
    val exact = Dedup.ngramJaccardPairs(subset, "text", "doc_id").head().getDouble(2)
    val est = Dedup.minHashNearDups(subset, "text", "doc_id", threshold = 0.0)
      .head().getDouble(2)
    assert(math.abs(exact - est) < 0.25, s"exact=$exact est=$est")
  }

  test("simHashTable matches the Column-fold simHash definition") {
    val subset = docs.filter(col("doc_id") < 20)
    val viaFold = subset.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaTable = Dedup.simHashTable(subset, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFold == viaTable)
  }

  test("simHashWideTable matches the per-row simHashWideCols definition") {
    // the streaming twin fingerprints with the Column forms while the
    // batch operators use the aggregate table — the stream==batch
    // contract rests on this equality, so pin it over real corpus text
    val subset = docs.filter(col("doc_id") < 20)
    val (loC, hiC) = Dedup.simHashWideCols(col("text"))
    val viaCols = subset.select(col("doc_id"), loC.as("lo"), hiC.as("hi"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val viaTable = Dedup.simHashWideTable(subset, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaCols == viaTable)
  }

  test("simhash: identical text → distance 0; near dup → small; corpus spread") {
    val fps = Dedup.simHashTable(
      docs.filter(col("doc_id").isin(0L, 100000L, 100001L)), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(100000L))
    assert(java.lang.Long.bitCount(fps(0L) ^ fps(100001L)) <= 12)
    val nearPairs = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearPairs.contains((0L, 100000L)))
  }

  test("wide simhash: blocked pairs == brute-force all-pairs; edges mirror 60-bit") {
    // the 30-bit pigeonhole blocking must be EXACT for maxHamming <= 3:
    // compare against the unblocked all-pairs two-half Hamming scan
    val sub = docs.filter(col("doc_id") % 7 === 0 ||
      col("doc_id").isin(0L, 100000L)) // ensure the known exact-dup pair
    val fps = Dedup.simHashWideTable(sub, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val brute = (for {
      (ia, (loA, hiA)) <- fps.toSeq; (ib, (loB, hiB)) <- fps.toSeq
      if ia < ib
      h = java.lang.Long.bitCount(loA ^ loB) + java.lang.Long.bitCount(hiA ^ hiB)
      if h <= 3
    } yield (ia, ib, h)).sorted
    val blocked = Dedup.simHashWideNearDups(sub, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(blocked == brute, s"blocked=${blocked.size} brute=${brute.size}")
    // exact duplicate text must land at wide hamming 0 too
    assert(brute.exists { case (a, b, h) => h == 0 })
    // the two halves are genuinely independent families: a doc's halves
    // differ (identical halves would mean the suffix hash is degenerate)
    assert(fps.values.count { case (lo, hi) => lo != hi } > fps.size / 2)
    // null text never pairs (same null semantics as the 60-bit form)
    import sub.sparkSession.implicits._
    val withNull = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val p = Dedup.simHashWideNearDups(withNull, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p.toSeq == Seq((1L, 2L)))
  }

  test("sharded wide near-dup == unsharded, at 1, 2 and 3 shards") {
    // the shard-then-merge contract: within(i) ∪ cross(i,j) partitions
    // "shares a quarter key" over doc pairs, so the pair set is
    // IDENTICAL to the single-join form whatever the shard count —
    // including pairs whose members land in different shards (the
    // boundary pass) and the known exact-dup pair (0, 100000)
    val sub = docs.filter(col("doc_id") % 7 === 0 ||
      col("doc_id").isin(0L, 100000L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val unsharded = canon(Dedup.simHashWideNearDups(sub, "text", "doc_id"))
    assert(unsharded.nonEmpty) // fixture sanity: something to compare
    for (s <- Seq(1, 2, 3)) {
      val sharded = canon(
        Dedup.simHashWideNearDupsSharded(sub, "text", "doc_id", shards = s))
      assert(sharded == unsharded, s"shards=$s")
    }
    // boundary evidence, CRAFTED: pick two ids that provably land in
    // DIFFERENT shards at S=2 (probed through the same xxhash64 rule
    // the operator uses), give them identical text, and require the
    // sharded run to find the pair — that pair can only come from the
    // cross-shard pass
    val s = sub.sparkSession
    import s.implicits._
    val byShard = s.range(900001, 900011)
      .select(col("id"), pmod(xxhash64(col("id").cast("string")), lit(2L))
        .cast("int").as("s"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val x = byShard.find(_._2 == 0).get._1
    val y = byShard.find(_._2 == 1).get._1
    val crafted = Seq(
      (x, "the quick brown fox jumps over the lazy dog"),
      (y, "the quick brown fox jumps over the lazy dog"),
      (5L, "completely different content about spark shuffle geometry"))
      .toDF("doc_id", "text")
    val crossPairs = canon(
      Dedup.simHashWideNearDupsSharded(crafted, "text", "doc_id", shards = 2))
    assert(crossPairs == canon(Dedup.simHashWideNearDups(crafted, "text", "doc_id")))
    assert(crossPairs.exists { case (a, b, h) =>
      Set(a, b) == Set(x, y) && h == 0 }, s"boundary pair ($x,$y) not found")
  }

  test("nearDups dispatcher: corpus size picks the scale-safe family") {
    val sub = docs.filter(col("doc_id") % 7 === 0 ||
      col("doc_id").isin(0L, 100000L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    // below the threshold (this fixture counts well under 10^5): the
    // 60-bit family, exactly
    val narrow = canon(Dedup.simHashNearDups(sub, "text", "doc_id"))
    assert(canon(Dedup.nearDups(sub, "text", "doc_id")) == narrow)
    // a declared corpus size at/above the threshold dispatches WIDE —
    // the provided size is trusted (no counting job), so the rule is
    // testable without 10^5 fixture rows
    val wide = canon(Dedup.simHashWideNearDups(sub, "text", "doc_id"))
    assert(canon(Dedup.nearDups(sub, "text", "doc_id",
      corpusSize = Some(100000L))) == wide)
    // just under the threshold stays 60-bit
    assert(canon(Dedup.nearDups(sub, "text", "doc_id",
      corpusSize = Some(99999L))) == narrow)
    // an explicitly pinned family overrides size entirely — the
    // reproducibility escape hatch for corpora that cross the
    // threshold between runs (r11 ADVICE)
    assert(canon(Dedup.nearDups(sub, "text", "doc_id",
      corpusSize = Some(5L), family = graft.dedup.NearDupFamily.Wide120)) == wide)
    assert(canon(Dedup.nearDups(sub, "text", "doc_id",
      corpusSize = Some(100000L),
      family = graft.dedup.NearDupFamily.Narrow60)) == narrow)
  }

  test("nearDups Auto sizes from plan statistics without a count job when available") {
    // a LocalRelation carries an exact rowCount in its plan statistics;
    // dispatch must read it instead of running a count() job. Jobs are
    // observed via listener — zero jobs may start during dispatch
    // (query CONSTRUCTION is lazy; only the sizing could run one).
    val local = (0 until 30).map(i => (i.toLong, s"short doc number $i"))
      .toDF("doc_id", "text")
    assume(local.queryExecution.optimizedPlan.stats.rowCount.isDefined,
      "LocalRelation stats lost rowCount — dispatcher falls back to count(), rule untestable this way")
    // suites share the session and run concurrently — count only jobs
    // carrying THIS test's job group (thread-local properties, so any
    // count() the dispatcher ran from this thread would carry it; other
    // suites' jobs don't)
    val group = "neardups-stats-dispatch"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id")) {
          descs.add(String.valueOf(
            j.properties.getProperty("spark.job.description")))
          jobs.incrementAndGet(); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "nearDups stats dispatch probe")
    try {
      val planned = Dedup.nearDups(local, "text", "doc_id")
      // listener events are async but ordered: run one known marker job
      // and wait for ITS start event — any job the dispatch had started
      // would have been delivered before it. An RDD action: exactly one
      // job (a DataFrame count() is 2+ under AQE's per-stage jobs).
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"dispatch ran ${jobs.get() - 1} job(s) despite plan stats: " +
          descs.toArray.mkString(" | "))
      // and the statistic steered correctly: 30 docs → narrow family
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
      assert(canon(planned) == canon(Dedup.simHashNearDups(local, "text", "doc_id")))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("LSH index: persisted probe finds the injected dup, no ref-side ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    val ref = docs.filter(col("doc_id") < 100000L)
    val batch = docs.filter(col("doc_id") >= 100000L) // exact + near dup
    Dedup.saveLshIndex(ref, "text", "doc_id", dir)
    val hits = Dedup.probeLshIndex(spark, dir, batch, "text", "doc_id", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists { case (n, rf, e) => n == 100000L && rf == 0L && e == 1.0 },
      s"hits=${hits.toSeq}")
    assert(hits.forall(_._1 >= 100000L)) // probe ids only on the new side
    val again = Dedup.probeLshIndex(spark, dir, batch, "text", "doc_id", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.sorted.toSeq == again.sorted.toSeq) // deterministic re-probe
  }

  test("LSH index: save and append write one file per band, whatever the input partitioning") {
    // 200 shuffle partitions with no AQE coalescing and one read split
    // per file: without the repartition on band_idx every write task
    // emits a file for each band it holds (tasks × bands files)
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx_files").toString
    val confs = Seq("spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "1024")
    val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    def bandFiles(): Seq[Int] =
      new java.io.File(s"$dir/bands").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("band_idx="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    try {
      confs.foreach { case (key, value) => spark.conf.set(key, value) }
      val ref = docs.filter(col("doc_id") < 100000L).repartition(200)
      Dedup.saveLshIndex(ref, "text", "doc_id", dir, bands = 16)
      assert(spark.read.parquet(s"$dir/sigs").inputFiles.length > 16)
      val saveFiles = bandFiles()
      assert(saveFiles.length == 16 && saveFiles.sum <= 16, s"band files $saveFiles")
    } finally saved.foreach {
      case (key, Some(value)) => spark.conf.set(key, value)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("maxBucket skew cap is observable: oversized buckets + dropped volume reported") {
    // crafted degenerate bucket: 40 documents with IDENTICAL text share
    // one signature, so every band's bucket holds all 40 of them
    val degenerate = (0 until 40)
      .map(i => (i.toLong, "the same boilerplate sentence repeated verbatim"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(degenerate, "text", "doc_id")
    // capped pair scan drops everything...
    assert(Dedup.lshCandidatePairs(sigs, "doc_id", maxBucket = 10).isEmpty)
    // ...and the side output says exactly what and how much
    val dropped = Dedup.lshOversizedBuckets(sigs, "doc_id", maxBucket = 10)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(dropped.length == 16) // one oversized bucket per band
    assert(dropped.forall { case (_, n, pairs) => n == 40 && pairs == 40L * 39 / 2 })
    // an uncapped (default) scan keeps the pairs, and the side output
    // at the same geometry is empty — cap was a no-op, report says so
    assert(Dedup.lshCandidatePairs(sigs, "doc_id").count() == 40L * 39 / 2)
    assert(Dedup.lshOversizedBuckets(sigs, "doc_id").isEmpty)
  }

  test("probe-path skew cap: opt-in, observable, default loses nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx_cap").toString
    val ref = (0 until 30)
      .map(i => (i.toLong, "the same boilerplate sentence repeated verbatim"))
      .toDF("doc_id", "text")
    val batch = Seq((1000L, "the same boilerplate sentence repeated verbatim"))
      .toDF("doc_id", "text")
    Dedup.saveLshIndex(ref, "text", "doc_id", dir)
    // default: NO cap — all 30 reference dups are found (the ADVICE
    // regression: a silent 1000-cap default would be invisible recall loss)
    assert(Dedup.probeLshIndex(spark, dir, batch, "text", "doc_id", 0.3)
      .count() == 30)
    // opt-in cap drops the degenerate bucket...
    assert(Dedup.probeLshIndex(spark, dir, batch, "text", "doc_id", 0.3,
      maxBucket = 10).isEmpty)
    // ...and its side output reports the discarded candidate volume
    val dropped = Dedup.probeLshOversizedBuckets(spark, dir, batch,
        "text", "doc_id", maxBucket = 10)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(dropped.length == 16)
    assert(dropped.forall { case (refN, batchN, cand) =>
      refN == 30 && batchN == 1 && cand == 30 })
    // the one-preparation production form agrees with both standalones
    val (hits, report) = Dedup.probeLshIndexObserved(spark, dir, batch,
      "text", "doc_id", 0.3, maxBucket = 10)
    assert(hits.isEmpty)
    assert(report.collect().map(r => (r.getLong(2), r.getLong(4))).toSeq ==
      Seq.fill(16)((30L, 30L)))
  }

  test("corpusOverlap: identical groups estimate 1.0, disjoint near 0") {
    val shared = (0 until 20).map(i => s"alpha$i beta$i gamma$i delta$i epsilon$i")
    val other = (0 until 20).map(i => s"zeta$i eta$i theta$i iota$i kappa$i")
    val df = (shared.map(("g1", _)) ++ shared.map(("g2", _)) ++
      other.map(("g3", _))).toDF("source", "text")
    val est = Dedup.corpusOverlap(df, "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(est(("g1", "g2")) == 1.0)       // same shingle set → same signature
    assert(est(("g1", "g3")) <= 0.1)       // no shared shingles
    assert(est(("g2", "g3")) == est(("g1", "g3"))) // g1 ≡ g2
  }
}

class SimilaritySpec extends SparkSpec {
  private lazy val emb = Tables(spark, sf(), "embeddings")

  test("cosine of a vector with itself is 1") {
    val self = emb.limit(5)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("LSH ANN recall@3 vs brute force tracks probed fraction") {
    // the harness embeddings are near-uniform random (no cluster
    // structure), so LSH recall ~= fraction of corpus probed; at 2 bits
    // with 1-bit multiprobe we probe 3 of 4 buckets → expect >= ~0.6
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.lshTopK(queries, emb, "vec_id", "embedding", 3, dim = 64, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall brute=${brute.size} ann=${ann.size}")
    // tighter LSH (4 bits) probes ~5/16 of the corpus — recall drops with
    // cost, never to zero
    val ann4 = Similarity.lshTopK(queries, emb, "vec_id", "embedding", 3, dim = 64, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall4 = (brute & ann4).size.toDouble / brute.size
    assert(recall4 > 0.1 && ann4.size == brute.size)
  }

  test("ANN cosines are never better than brute-force rank-1") {
    val queries = emb.filter(col("vec_id") < 4)
    val bruteBest = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val annBest = Similarity.lshTopK(queries, emb, "vec_id", "embedding", 1, dim = 64, bits = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    annBest.foreach { case (q, c) => assert(c <= bruteBest(q) + 1e-12) }
  }

  test("hardNegatives: planted near-copy masked, list stays at k via promotion") {
    import spark.implicits._
    val dim = 8
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val base = v(1, 0.1, 0.2, 0.3, 0, 0, 0, 0)
    val nearCopy = base.map(x => (x * 0.999f + 0.0001f))     // cos ~ 1 → dup
    val similar = v(0.9, 0.3, 0.1, 0.2, 0.1, 0, 0, 0)        // hard negative
    val medium = v(0.5, 0.5, 0.5, 0, 0, 0, 0, 0)
    val far = v(0, 0, 0, 0, 0, 0, 0.5, 1)
    val corpus = Seq((1L, base), (2L, nearCopy), (3L, similar),
      (4L, medium), (5L, far)).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(corpus.filter(col("vec_id") === 1),
      corpus, "vec_id", "embedding", k = 3, dupThreshold = 0.99, dim = dim)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // the near-copy (2) is masked; the next candidates promote so the
    // list still has k entries, hardest first
    assert(got.map(_._2).toSeq == Seq(3L, 4L, 5L), got.toSeq.toString)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("semDeDup: lowest id per cell always survives; survivors are pairwise below threshold within a cell") {
    val out = Similarity.semDeDup(emb, "vec_id", "embedding", nlist = 8, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length == emb.count())
    val kept = out.count(_._3 == 1)
    assert(kept > 0 && kept < out.length, s"kept=$kept")
    // the canonical rule: the lowest id in every cell has no lower-id
    // mate, so it can never be dropped
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.minBy(_._1)._3 == 1)
    }
  }

  test("clusterBalancedSample: exactly perCell per cell, deterministic") {
    def run() = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      nlist = 8, perCell = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sortBy(_._1)
    val got = run()
    // 500 near-uniform vectors over 8 cells: every cell has >= 5 members
    assert(got.length == 40)
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1L to 5L))
    }
    assert(got == run())
  }

  test("semanticDecontaminate: planted near-copy flagged, eval ids never emitted") {
    import spark.implicits._
    val dim = 8
    val base = Array.tabulate(dim)(i => (if (i == 0) 1f else 0.01f * i))
    val nearCopy = base.map(x => x * 0.999f + 0.0001f) // cos ~ 1
    val orthogonal = Array.tabulate(dim)(i => (if (i == dim - 1) 1f else 0f))
    val evalSet = Seq((1000L, base)).toDF("vec_id", "embedding")
    val corpus = Seq((1L, nearCopy), (2L, orthogonal)).toDF("vec_id", "embedding")
    val flagged = Similarity.semanticDecontaminate(corpus, evalSet,
      "vec_id", "embedding", dim, threshold = 0.9, bits = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(flagged.contains(1L), s"near-copy not flagged: $flagged")
    assert(flagged(1L)._1 == 1L && flagged(1L)._2 > 0.99)
    assert(!flagged.contains(2L), "orthogonal vector wrongly flagged")
    assert(!flagged.contains(1000L), "eval-side id leaked into output")
    // multiprobe buckets are distinct → a pair meets at most once, so
    // one eval vector can contribute at most hit-count 1
    assert(flagged.values.forall(_._1 == 1L))
  }

  test("hyperplane bucket key is deterministic across evaluations") {
    val k1 = emb.select(col("vec_id"),
      Similarity.hyperplaneKey(col("embedding"), 64, 4).as("k")).collect()
    val k2 = emb.select(col("vec_id"),
      Similarity.hyperplaneKey(col("embedding"), 64, 4).as("k")).collect()
    assert(k1.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      k2.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("int8 quantization: dequant error <= scale/2, range used, zeros safe") {
    import graft.functions.VectorFunctions.{vec_max_abs, vec_quantize_i8}
    import spark.implicits._
    val rows = Similarity.quantizeEmbeddings(emb, "vec_id", "embedding")
      .join(emb, "vec_id")
      .select(col("vec_id"), col("scale"), col("q"), col("embedding"))
      .collect()
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getSeq[Byte](2)
      val x = r.getSeq[Float](3)
      assert(q.length == x.length)
      // reconstruction error of symmetric quantization is at most half a
      // quantization step
      x.zip(q).foreach { case (xi, qi) =>
        assert(math.abs(qi * scale - xi) <= scale / 2 + 1e-9,
          s"vec ${r.getLong(0)}: x=$xi q=$qi scale=$scale")
      }
      // the max-|x| element must land on ±127 (the full range is used)
      assert(q.map(v => math.abs(v.toInt)).max == 127)
    }
    // all-zero vector → scale 0, all-zero bytes, no division blowup
    val z = Seq((1L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
      .select(vec_quantize_i8(col("embedding"),
        vec_max_abs(col("embedding")).cast("double") / lit(127.0)).as("q"))
      .head().getSeq[Byte](0)
    assert(z.forall(_ == 0))
  }

  test("q67 cosine rewrite does not arm the rule on the shared session") {
    import graft.plans.CosineJoinRewrite
    val df = Similarity.queries("q67_cosine_rewrite")(spark, sf())
    assert(df.count() > 0) // rewrite fired on its own (child) session
    // the SHARED session's confs must stay unset (the rule no-ops without
    // them, even if registered by another test) — a later theta join with
    // a cosine-threshold conjunct here must get the EXACT plan, not the
    // silently approximate LSH subset
    assert(spark.conf.getOption(CosineJoinRewrite.BitsConf).isEmpty)
    assert(spark.conf.getOption(CosineJoinRewrite.DimConf).isEmpty)
  }

  test("standardizeEmbeddings: every dimension ends ~N(0,1) in fixed point") {
    val z = Similarity.standardizeEmbeddings(emb, "vec_id", "embedding")
    val stats = z.groupBy("pos")
      .agg(avg(col("z_fp")).as("m"), stddev_pop(col("z_fp")).as("s"))
      .collect()
    assert(stats.length == 64)
    stats.foreach { r =>
      // z_fp = floor(z·10⁶): mean ~0 (±floor bias), std ~10⁶
      assert(math.abs(r.getDouble(1)) < 2e4, s"pos=${r.get(0)} mean=${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1e6) < 5e4, s"pos=${r.get(0)} std=${r.getDouble(2)}")
    }
  }
}

class MultimodalSpec extends SparkSpec {

  test("image dHash: recolored twin PNGs collide, distinct images don't; fallback is the sha256 form") {
    import graft.functions.ImageDHash
    import spark.implicits._
    // real PNG fixtures: a strong-contrast block pattern, its uniformly
    // dimmed twin (recoloring preserves brightness ORDER, the invariant
    // dHash keys on), and an unrelated pattern
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(110, 60,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 60; x <- 0 until 110) {
        val v = f(x, y) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def pattern(x: Int, y: Int) = ((x / 10 * 31 + y / 10 * 17) % 7) * 30 + 20
    val base = png(pattern)
    val twin = png((x, y) => pattern(x, y) * 3 / 5) // uniform dimming
    val other = png((x, y) => ((x / 10 * 13 + y / 10 * 29 + 3) % 7) * 30 + 20)
    val hBase = ImageDHash.tryDecode(base)
    val hTwin = ImageDHash.tryDecode(twin)
    val hOther = ImageDHash.tryDecode(other)
    assert(hBase != null && hTwin != null && hOther != null,
      "PNG fixtures must take the pixel path")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hBase, hTwin) <= 3,
      s"recolored twin at hamming ${ham(hBase, hTwin)}")
    assert(ham(hBase, hOther) > 10,
      s"distinct images at hamming ${ham(hBase, hOther)}")
    // undecodable payloads take the deterministic sha256-derived form
    val blob = "not an image at all".getBytes("UTF-8")
    assert(ImageDHash.eval(blob) == ImageDHash.fallback(blob))
    assert(ImageDHash.tryDecode(blob) == null)
    // the blocked pair operator pairs the twins and only the twins
    val assets = Seq(
      Multimodal.MediaAsset(1L, "image", base),
      Multimodal.MediaAsset(2L, "image", twin),
      Multimodal.MediaAsset(3L, "image", other),
      Multimodal.MediaAsset(4L, "image", blob)).toDS()
    val pairs = Multimodal.imageNearDups(assets, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"pairs=$pairs")
  }

  test("feature extraction is deterministic, typed, partition-preserving") {
    val assets = Multimodal.assetsFromDocuments(spark, sf())
    val f1 = Multimodal.extractFeatures(assets).collect()
    val f2 = Multimodal.extractFeatures(assets).collect()
    assert(f1.sortBy(_.asset_id).sameElements(f2.sortBy(_.asset_id)))
    assert(f1.forall(f => f.width >= 64 && f.width < 128))
    assert(f1.forall(f => f.checksum.length == 64))
    assert(f1.filter(_.kind == "image").forall(_.n_frames == 1))
  }

  test("payloads stay binary end-to-end (no stringification)") {
    val assets = Multimodal.assetsFromDocuments(spark, sf())
    assert(assets.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
  }

  test("real PNG/GIF payloads decode to true dimensions; junk falls back") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF00FF) // deterministic non-empty pixel
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def gif(w: Int, h: Int, frames: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        (0 until frames).foreach { _ =>
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    val assets = Seq(
      Multimodal.MediaAsset(1L, "image", png(17, 23)),
      Multimodal.MediaAsset(2L, "image", gif(9, 5, frames = 3)),
      Multimodal.MediaAsset(3L, "image", "not an image".getBytes("UTF-8")),
      Multimodal.MediaAsset(4L, "audio", png(17, 23)) // kind gates decode
    ).toDS()
    val f = Multimodal.extractFeatures(assets).collect()
      .map(x => x.asset_id -> x).toMap
    assert(f(1L).width == 17 && f(1L).height == 23 && f(1L).n_frames == 1)
    // multi-frame container: true frame count from the header walk
    assert(f(2L).width == 9 && f(2L).height == 5 && f(2L).n_frames == 3)
    // undecodable image payload: deterministic sha-derived fallback dims
    assert(f(3L).width >= 64 && f(3L).width < 128)
    // non-image kind never routes through the image decoder
    assert(f(4L).width >= 64 && f(4L).width < 128)
    // checksum is the payload sha256 on BOTH paths
    assert(f.values.forall(_.checksum.length == 64))
  }

  test("JPEG and TIFF magics pass the sniff gate to a true decode") {
    // the magic sniff must not reject containers the JDK can read —
    // JPEG (FFD8) and TIFF (II*\0 / MM\0*, the byte-order-dependent
    // magic that is easiest to get wrong) are the formats NOT covered
    // by the PNG/GIF test above; both writers ship with the JDK
    import spark.implicits._
    def enc(fmtName: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmtName, bos)
      bos.toByteArray
    }
    val jpg = enc("jpg", 31, 13)
    val tif = enc("tiff", 11, 29)
    assert(jpg(0) == 0xFF.toByte && jpg(1) == 0xD8.toByte)
    assert((tif(0) == 'I' && tif(1) == 'I') || (tif(0) == 'M' && tif(1) == 'M'))
    val assets = Seq(
      Multimodal.MediaAsset(1L, "image", jpg),
      Multimodal.MediaAsset(2L, "image", tif),
      Multimodal.MediaAsset(3L, "image", enc("bmp", 7, 19))
    ).toDS()
    val f = Multimodal.extractFeatures(assets).collect()
      .map(x => x.asset_id -> x).toMap
    assert(f(1L).width == 31 && f(1L).height == 13)
    assert(f(2L).width == 11 && f(2L).height == 29)
    assert(f(3L).width == 7 && f(3L).height == 19)
  }

  test("real WAV payloads decode to true rate/channels/frames; junk falls back") {
    import spark.implicits._
    def wav(rateHz: Float, channels: Int, nFrames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rateHz, 16, channels, true, false)
      val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val assets = Seq(
      Multimodal.MediaAsset(1L, "audio", wav(16000f, 1, 480)),
      Multimodal.MediaAsset(2L, "audio", wav(44100f, 2, 1000)),
      Multimodal.MediaAsset(3L, "audio", "not audio at all".getBytes("UTF-8")),
      Multimodal.MediaAsset(4L, "image", wav(16000f, 1, 480)) // kind gates decode
    ).toDS()
    val f = Multimodal.extractFeatures(assets).collect()
      .map(x => x.asset_id -> x).toMap
    // width = sample rate, height = channels, n_frames = sample frames
    assert(f(1L).width == 16000 && f(1L).height == 1 && f(1L).n_frames == 480)
    assert(f(2L).width == 44100 && f(2L).height == 2 && f(2L).n_frames == 1000)
    // undecodable audio payload: deterministic sha-derived fallback
    assert(f(3L).width >= 64 && f(3L).width < 128)
    // a WAV under kind "image" never routes through the audio decoder
    assert(f(4L).width >= 64 && f(4L).width < 128)
  }

  test("real MP4 payloads decode to true dims/frames via the box walk; junk falls back") {
    import spark.implicits._
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length)
      bb.put(typ.getBytes("ISO-8859-1")); bb.put(payload)
      bb.array
    }
    def tkhd(w: Int, h: Int): Array[Byte] = {
      val p = java.nio.ByteBuffer.allocate(84) // version-0 payload layout
      p.position(76); p.putInt(w << 16); p.putInt(h << 16)
      box("tkhd", p.array)
    }
    def stsz(n: Int): Array[Byte] = {
      val p = java.nio.ByteBuffer.allocate(12)
      p.position(8); p.putInt(n) // version/flags 0, sample_size 0, count n
      box("stsz", p.array)
    }
    def mp4(w: Int, h: Int, frames: Int): Array[Byte] =
      box("ftyp", "isom".getBytes ++ Array.fill[Byte](8)(0)) ++
        box("moov", box("trak",
          tkhd(w, h) ++ box("mdia", box("minf", box("stbl", stsz(frames))))))
    def hdlr(handler: String): Array[Byte] = {
      val p = java.nio.ByteBuffer.allocate(24)
      p.position(8); p.put(handler.getBytes("ISO-8859-1"))
      box("hdlr", p.array)
    }
    def trak(w: Int, h: Int, frames: Int, handler: String): Array[Byte] =
      box("trak", tkhd(w, h) ++ box("mdia",
        hdlr(handler) ++ box("minf", box("stbl", stsz(frames)))))
    // size=1 largesize form (the >4 GiB mdat encoding muxers emit)
    def largeMdat(n: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + n)
      bb.putInt(1); bb.put("mdat".getBytes("ISO-8859-1")); bb.putLong(16L + n)
      bb.array
    }
    // audio trak muxed FIRST (0×0 dims, bogus frame count) + a
    // largesize mdat before moov — the walker must step over the mdat
    // and pick the 'vide' trak, not trak #1
    val muxed = box("ftyp", "isom".getBytes ++ Array.fill[Byte](8)(0)) ++
      largeMdat(32) ++
      box("moov", trak(0, 0, 9999, "soun") ++ trak(640, 360, 240, "vide"))
    val assets = Seq(
      Multimodal.MediaAsset(1L, "video", mp4(640, 360, 240)),
      Multimodal.MediaAsset(2L, "video", "not a video container".getBytes("UTF-8")),
      Multimodal.MediaAsset(3L, "audio", mp4(640, 360, 240)), // kind gates decode
      Multimodal.MediaAsset(5L, "video", muxed)
    ).toDS()
    val f = Multimodal.extractFeatures(assets).collect()
      .map(x => x.asset_id -> x).toMap
    assert(f(1L).width == 640 && f(1L).height == 360 && f(1L).n_frames == 240)
    assert(f(2L).width >= 64 && f(2L).width < 128) // fallback dims
    assert(f(3L).width >= 64 && f(3L).width < 128) // never the mp4 walker
    assert(f(5L).width == 640 && f(5L).height == 360 && f(5L).n_frames == 240,
      f(5L).toString)
  }

  test("resize plan never upscales and preserves aspect bound") {
    val feats = Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(spark, sf())).toDF()
    val planned = Multimodal.resizePlan(feats, maxDim = 96)
    val bad = planned.filter(col("out_width") > 96 || col("out_height") > 96 ||
      col("out_width") > col("width") || col("out_height") > col("height"))
    assert(bad.isEmpty)
  }

  test("frame sampling emits stride-spaced indices, videos/audio only") {
    val feats = Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(spark, sf())).toDF()
    val frames = Multimodal.sampleFrames(feats, stride = 30)
    assert(frames.filter(col("kind") === "image").isEmpty)
    val bad = frames.filter(col("frame_idx") % 30 =!= 0)
    assert(bad.isEmpty)
  }
}

class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("approxDistinct: occupancy correction keeps small cardinalities sane") {
    // 5 distinct keys over 256 registers: the uncorrected m-register
    // harmonic form (m²·W/Σmin − m) estimates in the MILLIONS here; the
    // occupied-bucket form must stay in the right order of magnitude
    val small = (1 to 1000).map(i => ("g", s"key${i % 5}")).toDF("g", "k")
    val est5 = Relational.approxDistinct(small, "g", "k", "est")
      .head().getDouble(1)
    assert(est5 > 1 && est5 < 15, s"estimate $est5 for 5 distinct")

    // mid cardinality (~2000 distinct, registers saturated): the
    // stochastic-averaging regime, where c = m and the formula reduces
    // to the classic harmonic combination
    val big = (1 to 2000).map(i => ("g", s"user-$i")).toDF("g", "k")
    val est2k = Relational.approxDistinct(big, "g", "k", "est")
      .head().getDouble(1)
    assert(math.abs(est2k - 2000) / 2000.0 < 0.30, s"estimate $est2k for 2000 distinct")
  }

  test("fixed-point sums equal decimal-cast sums on random money values") {
    // the dsumFx fast path claims bit-identity with dsum for any value
    // carrying <=2 true decimals (the money contract), INCLUDING
    // negatives (c_acctbal) and products of 2-decimal factors (<=6
    // decimals). 20k seeded-random values across the full money range.
    import org.apache.spark.sql.functions.{col => c}
    val rnd = new scala.util.Random(58)
    val money = (1 to 20000).map { i =>
      // cents in (-5e7, 5e7) -> values in (-5e5, 5e5) with exactly <=2 decimals
      val cents = rnd.nextLong() % 50000000L
      (i % 7, cents / 100.0, (rnd.nextInt(200) - 100) / 100.0)
    }.toDF("g", "v", "f") // f: a 2-decimal factor in [-1, 1)
    val both = money.groupBy("g").agg(
      Relational.dsum(c("v")).as("slow_v"), Relational.dsumFx(c("v")).as("fast_v"),
      // product of 2-decimal values: <=4 decimals, still on the contract
      Relational.dsum(c("v") * c("f")).as("slow_p"),
      Relational.dsumFx(c("v") * c("f")).as("fast_p")).collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"sum mismatch g=${r.get(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
      assert(r.getDouble(3) == r.getDouble(4),
        s"product-sum mismatch g=${r.get(0)}: ${r.getDouble(3)} vs ${r.getDouble(4)}")
    }

    // row-level: the quantized unscaled long equals the decimal cast's
    // unscaled value exactly, sign included
    val q = money.select(
      Relational.unscaledFx(c("v"), 1000000L).as("fx"),
      (c("v").cast(org.apache.spark.sql.types.DecimalType(18, 6)) *
        1000000).cast("long").as("ref"))
    assert(q.filter(c("fx") =!= c("ref")).count() == 0)

    // off-contract values (NaN, infinities, beyond the quantization
    // bound) must become NULL — skipped like a decimal-cast overflow,
    // never silently counted as a garbage long
    val junk = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 3.0e9, -3.0e9).toDF("v")
    assert(junk.select(Relational.unscaledFx(c("v"), 1000000L).as("fx"))
      .filter(c("fx").isNotNull).count() == 0)
  }
}

class PackSequencesSpec extends SparkSpec {
  import spark.implicits._
  private def c(n: String) = col(n)

  test("greedy pack on a crafted bucket: boundaries, oversize singleton, positions") {
    // one bucket (nBuckets = 1), ids in order; token counts 3,3,3,10,2:
    // maxTokens=8 → seq0 = {1,2} (3+3=6; +3 would be 9), seq1 = {3},
    // wait: doc3 n=3 fits nothing? 6+3=9>8 → seq1 starts at doc3 (fill 3),
    // doc4 n=10 > 8 → closes seq1, gets seq2 ALONE (oversize singleton),
    // doc5 n=2 → 10+2>8 → seq3
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f"), (3L, "g h i"),
      (4L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (5L, "x y"))
      .toDF("doc_id", "text")
    val packed = TextAnalysis.packSequences(docs, "text", "doc_id",
      maxTokens = 8, nBuckets = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSeq
    assert(packed == Seq((1L, 0L, 0), (2L, 0L, 1), (3L, 1L, 0),
      (4L, 2L, 0), (5L, 3L, 0)))
  }

  test("pack is deterministic under a hostile pre-shuffle and loses no document") {
    val docs = Tables(spark, sf("sf0.01"), "documents")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.packSequences(df, "text", "doc_id", maxTokens = 512, nBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
        .toSeq.sortBy(_._1)
    val base = run(docs)
    val hostile = run(docs.repartition(7, c("text")))
    assert(base == hostile)
    assert(base.length == docs.count().toInt) // every doc placed once
  }

  test("capacity invariant: every multi-doc sequence fits maxTokens; seqs and positions contiguous") {
    val docs = Tables(spark, sf("sf0.01"), "documents")
    val packed = TextAnalysis.packSequences(docs, "text", "doc_id",
      maxTokens = 512, nBuckets = 8)
    val bySeq = packed.groupBy("bucket", "seq")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n"),
        min("pos").as("p0"), max("pos").as("p1"))
    // a sequence over capacity must be an oversize SINGLETON
    assert(bySeq.filter(c("tok") > 512 && c("n") > 1).count() == 0)
    // positions are 0..n-1 within each sequence
    assert(bySeq.filter(c("p0") =!= 0 || c("p1") =!= c("n") - 1).count() == 0)
    // seq ids are contiguous 0..max within each bucket (packStats leans
    // on this for its max+1 count)
    val byBucket = packed.groupBy("bucket")
      .agg(countDistinct("seq").as("d"), (max("seq") + 1).as("m"))
    assert(byBucket.filter(c("d") =!= c("m")).count() == 0)
  }

  test("packStats: padding fraction is the exact fixed-point objective") {
    val docs = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i")).toDF("doc_id", "text")
    // one bucket, maxTokens 8: seq0={1,2} (6 tok), seq1={3} (3 tok)
    // padding = 1 - 9/16 = 0.4375 → 437500 ppm
    val stats = TextAnalysis.packStats(
      TextAnalysis.packSequences(docs, "text", "doc_id", 8, 1), 8).collect()
    assert(stats.length == 1)
    val r = stats.head
    assert(r.getAs[Long]("n_seqs") == 2L && r.getAs[Long]("sum_tokens") == 9L)
    assert(r.getAs[Long]("padding_frac_ppm") == 437500L)
  }
}
