package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All built from codegen'd `org.apache.spark.sql.functions._` — no UDFs —
  * so whole-stage codegen spans the full pipeline and the work distributes
  * embarrassingly (per-row, no shuffle until an explicit aggregate).
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokenization (the canonical LLM-pipeline pre-tokenizer). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish sub-word segmentation: letter runs, digit runs, and single
    * punctuation marks (GPT-2-style pre-tokenizer, simplified to an
    * RE2-compatible alternation both engines support). */
  def bpeishTokens(c: Column): Column =
    regexp_extract_all(c, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Word n-gram shingles (for near-dup detection). Interpreted-lambda
    * form; corpus passes should use [[distinctWordShingles]] (native,
    * codegen'd) — kept as the composed reference semantics that
    * TextAnalysisSpec proves the native expression equal to. */
  def wordShingles(c: Column, n: Int): Column = {
    val w = tokens(c)
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))
  }

  /** Distinct word n-gram shingles — the native one-pass twin of
    * `array_distinct(wordShingles(c, n))` (same strings, same
    * first-occurrence order), fully inside whole-stage codegen. */
  def distinctWordShingles(c: Column, n: Int): Column =
    graft.functions.TextFunctions.distinct_word_ngrams(tokens(c), n)

  /** Stable document fingerprint: md5 of whitespace-normalized text.
    * (The rolling-hash variant is [[rollingFingerprint]].) */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** 60-bit token hash both engines can compute identically: the first
    * 15 hex chars of md5, parsed as an integer. The 60-bit width (not 64)
    * keeps every downstream shift/sum below 2^63, where Spark's ANSI mode
    * and DuckDB both stay overflow-free — which is what makes SimHash and
    * the rolling fingerprint ORACLE-checkable rather than rows-only.
    * (Swap in xxhash64 for ~3× cheaper hashing when cross-engine
    * reproducibility isn't required.) */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Rolling hash over tokens — order-sensitive, so reordered text
    * changes the fingerprint while md5-of-sorted-shingles would not.
    * 60-bit rotate-left-5 then xor with the token hash; all operands stay
    * under 2^60 so neither engine can overflow (DuckDB errors on shift
    * overflow, Spark ANSI on arithmetic). */
  def rollingFingerprint(c: Column): Column = {
    val mask55 = (1L << 55) - 1
    aggregate(tokens(c), lit(0L), (acc, t) =>
      shiftleft(acc.bitwiseAND(lit(mask55)), 5)
        .bitwiseOR(shiftright(acc, 55))
        .bitwiseXOR(h60(t)))
  }

  /** Sliding-window document chunking — the RAG / pretraining-shard
    * step that splits long documents into fixed-size overlapping token
    * windows. Chunk i covers tokens `[i·step, i·step + chunkTokens)`
    * with `step = chunkTokens − overlapTokens`; the chunk count
    * `max(1, ceil((n − overlap) / step))` covers every token, the last
    * chunk may run short. Entirely codegen'd narrow ops (`sequence` +
    * `explode` + `slice`), no shuffle at all — the chunker is a pure map
    * stage that scales with input bytes, and the output order is
    * (doc, chunk_idx)-deterministic. `chunk_fp` is the md5 of the chunk
    * text (compact + oracle-comparable); select `chunk_text` off the
    * same plan when the payload is wanted. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    val step = chunkTokens - overlapTokens
    require(chunkTokens > 0 && overlapTokens >= 0 && step > 0,
      "need 0 <= overlap < chunkTokens")
    val start = col("chunk_idx") * lit(step)
    // null text emits NO chunks (greatest(1, null)=1 would fabricate a
    // phantom 64-token chunk of nothing; DuckDB's range(0, NULL) emits
    // none)
    docs
      .where(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .withColumn("chunk_idx", explode(sequence(lit(0),
        greatest(lit(1), ceil((col("_n") - lit(overlapTokens)).cast("double") /
          lit(step.toDouble)).cast("int")) - 1)))
      .select(col(idCol),
        col("chunk_idx").cast("int").as("chunk_idx"),
        start.cast("int").as("start_token"),
        least(lit(chunkTokens), col("_n") - start).cast("int").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("_toks"), start + 1, lit(chunkTokens))).as("chunk_text"))
  }

  private val punctClass = "[.!?,;:]"

  /** Per-document quality metrics (length / punct / stopword ratios). */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_punct", (length(t) - length(regexp_replace(t, punctClass, ""))).cast("long"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_chars"))
      .withColumn("avg_token_len",
        (length(regexp_replace(t, "\\s+", "")).cast("double")) / col("n_tokens"))
      .withColumn("uniq_token_ratio",
        size(array_distinct(toks)).cast("double") / col("n_tokens"))
  }

  /** Tiny per-language stopword profiles for the n-gram/stopword-overlap
    * language-ID heuristic. Deliberately small: language ID at 100 TB must
    * stay a cheap per-row expression, not a model. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "it", "that", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Language ID: argmax of stopword-set overlap, 'und' when no evidence.
    * Native one-pass expression ([[graft.functions.LangIdBest]]) — the
    * lexicon rides the codegen reference array, so the generated source
    * is small and constant (the composed `array_intersect` tree inlined
    * 50 string literals and cost seconds of janino compile per plan). */
  def langIdExpr(textCol: Column): Column =
    graft.functions.TextFunctions.lang_id_best(tokens(lower(textCol)),
      stopwords.toSeq.map { case (l, ws) => (l, ws) })

  /** The composed-operator twin of [[langIdExpr]] (array_intersect
    * against literal arrays) — kept as the executable specification the
    * native expression is tested against. */
  def langIdExprComposed(textCol: Column): Column = {
    val toks = tokens(lower(textCol))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Language ID as a table (corpus-scale path): explode lowercase
    * tokens, broadcast-join the stopword lexicon, count DISTINCT matched
    * stopwords per (doc, lang) — the set-intersection semantics of
    * [[langIdExpr]] — and take the argmax. Whole-stage codegen + one
    * shuffle on doc id; same result as the expression form ('und' when no
    * stopword hits at all). */
  def langIdTable(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lexicon = broadcast(
      stopwords.toSeq.flatMap { case (l, ws) => ws.map(w => (l, w)) }
        .toDF("lang_cand", "tok"))
    val hits = docs
      // array_distinct BEFORE the explode: tokens are then unique per doc,
      // so the per-(doc, lang) score is a plain count — no Expand-based
      // distinct aggregate (one shuffle instead of two), fewer exploded rows
      .select(col(idCol), explode(array_distinct(tokens(lower(col(textCol))))).as("tok"))
      .join(lexicon, Seq("tok"))
      .groupBy(col(idCol), col("lang_cand"))
      .agg(count(col("tok")).as("score"))
      .groupBy(col(idCol))
      .agg(max(struct(col("score"), col("lang_cand"))).as("best"))
      .select(col(idCol), col("best.lang_cand").as("lang_pred"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("lang_pred"), lit("und")).as("lang_pred"))
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Statistical fluency score — the perplexity-filter family without the
    * transcendental: per document, the mean add-one-smoothed bigram
    * probability `(c(w1,w2)+1)/(c(w1)+V)`, fixed-pointed via
    * `floor(p·10⁹)` BEFORE summing so the aggregate is exact integer math
    * (float sums have nondeterministic order; `ln`/`log2` differ by ulps
    * across math libraries — floor of an IEEE division does not).
    * Low-probability word sequences (gibberish, boilerplate soup) score
    * near 0; predictable prose scores high. The LM is the corpus itself:
    * two aggregation passes and two broadcast-joinable count tables.
    *
    * Bigrams are formed MAP-SIDE by zipping the token array with its
    * own tail (`arrays_zip(toks[0:n−1], toks[1:n])`) — consecutive
    * pairs need no ordering beyond the array itself, so the old
    * posexplode + per-document window-sort subtree (a full-stream sort
    * shuffle, recomputed for each of its three consumers) is gone;
    * every shuffle left in the plan is a map-side-combining count
    * aggregation or the final per-document rollup. */
  def bigramFluency(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol), tokens(lower(col(textCol))).as("toks"))
    val nPairs = greatest(size(col("toks")) - 1, lit(0))
    val bg = toks.select(col(idCol), explode(arrays_zip(
        slice(col("toks"), lit(1), nPairs).as("tok"),
        slice(col("toks"), lit(2), nPairs).as("next"))).as("p"))
      .select(col(idCol), col("p.tok").as("tok"), col("p.next").as("next"))
    val uni = bg.groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = bg.groupBy("tok", "next").agg(count(lit(1)).as("c2"))
    val vocab = toks.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = bg.join(bi, Seq("tok", "next")).join(uni, Seq("tok"))
      .crossJoin(broadcast(vocab))
      .withColumn("p_fp",
        floor((col("c2") + 1).cast("double") / (col("c1") + col("v")) * 1e9).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_fp")).as("sum_fp"))
      .withColumn("fluency", col("sum_fp").cast("double") / col("n_bigrams") / 1e9)
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("fluency"))
  }

  /** Token-budget corpus selection (the "fill N tokens with the best
    * data" pass of every pre-training mix): per group, rank documents by
    * a quality key and keep them while the running token total stays
    * within the budget. The ranking key must be exact (integers, not
    * float scores) for the cut line to be deterministic; the window is
    * ROWS-framed over a total order so the running sum is too. One
    * shuffle (the per-group window). */
  def tokenBudgetSelect(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, rankKey: Column, budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(rankKey.desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", size(tokens(col(textCol))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  final case class PackedDoc(doc_id: Long, bucket: Int, seq: Long,
      pos: Int, n_tokens: Long)

  /** Greedy sequence packing — the pretraining "pack" step (T5's
    * pack_examples / GPT-style example packing): concatenate documents
    * in order into fixed-capacity training sequences of at most
    * `maxTokens` whitespace tokens, starting a new sequence when the
    * next document would overflow (a document longer than `maxTokens`
    * gets a sequence of its own — the truncate/split policy is the
    * trainer's, not the packer's). Output: one row per document with
    * its `(bucket, seq, pos)` placement and token count — the join key
    * a sequence-builder needs, not the concatenated text (never
    * materialize 100 TB of re-concatenated strings in the packer).
    *
    * Distribution: greedy packing is PREFIX-DEPENDENT — each boundary
    * depends on every prior fill — so it is not window-expressible, and
    * this is the package's one non-codec `mapPartitions` (the (d)
    * last-resort case, justified the same way: genuinely sequential
    * semantics). The sequential scope is capped by sharding into
    * `nBuckets` via the cross-engine h60 hash of the id: each bucket is
    * one deterministic greedy run, buckets run in parallel, and the
    * result is INDEPENDENT of physical partitioning because
    * `repartition(bucket) + sortWithinPartitions(bucket, id)` pins each
    * bucket contiguous and id-sorted before the fold (spec-pinned under
    * a hostile 7-way pre-shuffle). At 100 TB: nBuckets scales with the
    * corpus (buckets ≈ cores × waves), per-bucket state is three
    * scalars, and packing quality is unaffected by sharding for any
    * bucket holding ≫ 1 sequence — padding waste is per-sequence, not
    * per-bucket. Ordering is by id (stable under appends: old buckets
    * re-pack identically iff ids are monotone); first-fit-DECREASING
    * (order by n_tokens desc) packs a few percent tighter but re-packs
    * the world on every append — the wrong trade for an incremental
    * corpus, so it is deliberately not the default.
    *
    * Fully deterministic (h60 bucket, id order, integer fills), so the
    * whole pack — boundaries included — replays in DuckDB as one
    * recursive CTE walking each bucket in rank order (q188 is a full
    * hash compare; q189 pins the padding-fraction objective). */
  def packSequences(docs: DataFrame, textCol: String, idCol: String,
      maxTokens: Int, nBuckets: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens=$maxTokens must be >= 1")
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val withTok = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        pmod(h60(concat(col(idCol).cast("string"), lit(":pack"))),
          lit(nBuckets.toLong)).cast("int").as("bucket"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
    withTok
      .repartition(nBuckets, col("bucket"))
      .sortWithinPartitions("bucket", "doc_id")
      .as[(Long, Int, Long)]
      .mapPartitions { it =>
        var curBucket = Int.MinValue
        var seq = 0L; var fill = 0L; var pos = 0
        it.map { case (id, b, n) =>
          if (b != curBucket) { curBucket = b; seq = 0L; fill = 0L; pos = 0 }
          if (fill > 0L && fill + n > maxTokens) { seq += 1; fill = 0L; pos = 0 }
          fill += n
          val out = PackedDoc(id, b, seq, pos, n)
          pos += 1
          out
        }
      }
      .toDF()
  }

  /** The packing objective, measured: per-bucket sequence counts and
    * the padding fraction `1 − Σtokens / (n_seqs · maxTokens)` —
    * what a trainer actually wastes on pad tokens under this pack.
    * Fixed-point division (µ units) so the metric hash-compares. */
  def packStats(packed: DataFrame, maxTokens: Int): DataFrame =
    packed.groupBy("bucket")
      // seq ids are contiguous 0..max within a bucket by construction,
      // so max+1 counts sequences without a countDistinct expand
      .agg((max("seq") + lit(1L)).as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"))
      .withColumn("padding_frac_ppm",
        lit(1000000L) -
          expr(s"(sum_tokens * 1000000) div (n_seqs * $maxTokens)"))

  /** Temperature-scaled mixture budgeting — the "α-sampling" data-mix
    * pass (GPT-3 / multilingual-LM style): each source's token budget is
    * proportional to `src_tokens^α` with α = 1/2, flattening the mix so
    * giant sources stop drowning small ones (α=1 is proportional, α=0
    * uniform). √ is the one exponent with an exactly-rounded IEEE op in
    * both engines, so the weights are deterministic; they are then
    * fixed-pointed (`floor(√·10⁶)` BIGINT) so the weight SUM is exact
    * integer math with no float-order dependence, and each budget is an
    * integral `totalBudget·w div Σw`. Selection within a source is the
    * q99 cut: rank by quality key, keep while the running token total
    * fits. Two small aggregations + a broadcast of the per-source
    * budget table; the corpus shuffles once (the per-source window). */
  def temperatureMixture(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, rankKey: Column, totalBudget: Long): DataFrame = {
    val t = docs.withColumn("n_tokens", size(tokens(col(textCol))).cast("long"))
    val sums = t.groupBy(groupCol).agg(sum("n_tokens").as("src_tokens"))
      .withColumn("w_fp",
        floor(sqrt(col("src_tokens").cast("double")) * 1e6).cast("long"))
    val wsum = sums.agg(sum("w_fp").as("w_total"))
    val budgets = sums.crossJoin(broadcast(wsum))
      // decimal(38,0): totalBudget·w_fp wraps Long at trillion-token
      // sources (w_fp ~ 1e12) with trillion-token budgets; decimal
      // integer math gives the identical value without the cliff. The
      // division must be integral (`div` → divideToIntegralValue,
      // exact) — floor over decimal `/` rounds the quotient to scale 6
      // HALF_UP first, which can cross an integer when the fractional
      // part is within ~5e-7 of 1, diverging from the oracle's HUGEINT
      // `//` at large totals
      .withColumn("budget_tokens",
        expr(s"(cast($totalBudget as decimal(38,0)) * w_fp) div w_total"))
      .select(col(groupCol), col("src_tokens"), col("budget_tokens"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(rankKey.desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(broadcast(budgets), Seq(groupCol))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= col("budget_tokens"))
  }

  /** C4-style blocklist safety filter — the "bad-words" cleaning pass
    * (C4 dropped any page containing a blocklist term; weighted
    * variants score by severity and cut on flagged-token density so a
    * single incidental hit in a long document survives). The lexicon
    * rides inside the plan as a map literal, so the whole filter is a
    * per-row codegen fold over the token array: ZERO shuffles, zero
    * joins, no broadcast — the cheapest possible full-corpus pass, and
    * the lexicon (thousands of terms at most) never becomes a join
    * side. `kept = flag_density <= maxDensity`; pass 0.0 for C4's
    * drop-on-any-hit strictness. Weights must be positive. */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
      lexicon: Seq[(String, Long)], maxDensity: Double): DataFrame = {
    require(lexicon.nonEmpty && lexicon.forall(_._2 > 0),
      "lexicon terms need positive weights")
    val m = map(lexicon.flatMap { case (t, w) => Seq(lit(t), lit(w)) }: _*)
    docs
      // null text contributes no row, matching the per-token unnest the
      // oracle (and any join-based variant) would produce — without the
      // guard this per-row form would emit an all-NULL row instead
      .filter(col(textCol).isNotNull)
      .withColumn("_toks", tokens(lower(col(textCol))))
      .withColumn("_ws",
        transform(col("_toks"), t => coalesce(element_at(m, t), lit(0L))))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(filter(col("_ws"), w => w > 0)).cast("long").as("n_flagged"),
        aggregate(col("_ws"), lit(0L), (acc, w) => acc + w).as("flag_score"))
      .withColumn("flag_density",
        col("n_flagged").cast("double") / col("n_tokens"))
      .withColumn("kept", col("flag_density") <= maxDensity)
  }

  /** DSIR-style importance resampling — hashed-n-gram data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by how much its
    * n-gram profile looks like a TARGET corpus, then keep the top
    * `keep`. Features are word bigrams hashed into `buckets` cells
    * ([[h60]] mod B — cross-engine); each cell gets an add-one-smoothed
    * importance weight and a document's score is the sum of its bigram
    * occurrences' cell weights.
    *
    * Determinism: DSIR's per-cell `log((ct_t+1)/(ct_r+1))` is a libm
    * call that differs by ulps across engines, so the weight here is
    * the fixed-point LIKELIHOOD RATIO `((ct_t+1)·10⁶) div (ct_r+1)` —
    * exact integral division (the q117/q122 rule: `div`, never
    * floor-of-decimal-divide), summed as decimal(38,0) so no float
    * order-dependence exists anywhere; the one double appears in the
    * final per-doc cast (exact-integer → correctly-rounded in both
    * engines). Ranking by Σ-ratio instead of Σ-log favors the same
    * target-like cells; it is the deterministic surrogate, documented
    * as such.
    *
    * Scale shape: both corpora aggregate onto ≤`buckets` keys —
    * map-side combine collapses each partition to ≤B partial rows, so
    * the two count shuffles are O(B·partitions) regardless of corpus
    * bytes. The weight table (≤B rows) broadcasts; scoring is a map
    * stage + one per-doc aggregate whose partial combine already sees
    * a document's bigrams co-located (explode keeps row locality), so
    * the final shuffle carries ~one row per document. Top-k is
    * `orderBy.limit` = TakeOrderedAndProject — no global sort. */
  def importanceResample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, keep: Int): DataFrame = {
    import graft.functions.TextFunctions.word_ngrams
    def bigramCells(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+
          explode(word_ngrams(tokens(lower(col(textCol))), 2)).as("g"): _*)
        .select(keep :+ pmod(h60(col("g")), lit(buckets.toLong)).as("b"): _*)
    val rawCells = bigramCells(raw, Seq(col(idCol)))
    val ctR = rawCells.groupBy("b").agg(count(lit(1)).as("ct_r"))
    val ctT = bigramCells(target, Seq.empty)
      .groupBy("b").agg(count(lit(1)).as("ct_t"))
    // target ⊆ raw-feature-space is NOT assumed: cells only in the
    // target never score a raw doc (no raw occurrence probes them), so
    // a left join from the raw counts is lossless
    val weights = ctR.join(ctT, Seq("b"), "left_outer")
      .na.fill(0L, Seq("ct_t"))
      .withColumn("r_fp",
        expr("((ct_t + 1) * cast(1000000 as decimal(38,0))) div (ct_r + 1)"))
      .select("b", "r_fp")
    val scored = rawCells.join(broadcast(weights), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("r_fp").cast(DecimalType(38, 0))).as("score_fp"))
    raw.select(col(idCol))
      .join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_fp"), lit(0).cast(DecimalType(38, 0)))
          .cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(keep)
  }

  /** Per-document rare-token fraction WITHOUT a vocabulary join: probe
    * the [[heavyHitters]] Count-Min sketch for every token occurrence
    * and count those estimated below `threshold`. The frequency table a
    * naive version would `groupBy(token)`-build and shuffle-join back is
    * replaced by a broadcast 256 KB counter matrix and a pure map stage
    * — per-doc quality signals over a 100 TB corpus with ONE extra
    * aggregate of fixed size. CMS only overestimates, so `n_rare` is
    * conservative (a token called frequent might be rare, never the
    * reverse); width trades that error for memory. Deterministic and
    * oracle-replayable like q108. */
  def rareTokenStats(docs: DataFrame, textCol: String, idCol: String,
      threshold: Long, depth: Int = 4, width: Int = 8192): DataFrame = {
    import graft.functions.SketchFunctions._
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", h60(col("tok")))
    val sketch = toks.agg(count_min_agg(col("h"), depth, width).as("sketch"))
    toks.crossJoin(broadcast(sketch))
      .withColumn("est", cms_estimate_long(col("sketch"), col("h"), depth, width))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("est") < threshold, lit(1))).as("n_rare"))
      .withColumn("rare_frac", col("n_rare").cast("double") / col("n_tokens"))
  }

  /** Train a closed-form domain/quality classifier from a labeled
    * slice — the CCNet/fastText filter recipe in exactly-replayable
    * arithmetic: per token, the target-purity weight
    * `w(t) = (10⁶ · occurrences-in-target) div occurrences-total`,
    * integer-exact in both engines (a log-odds NB weight differs by
    * libm ulps; the purity ratio is its monotone, division-free twin).
    * Tokens below `minCount` are dropped (no evidence), and fall back
    * to the neutral prior at scoring time. One token-explode +
    * aggregation; the result is a vocabulary-sized weight table. */
  def trainTokenWeights(labeled: DataFrame, textCol: String,
      targetCol: Column, minCount: Long = 2L): DataFrame =
    labeled.select(targetCol.as("_target"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok")
      .agg(sum(when(col("_target"), 1L).otherwise(0L)).as("cnt_t"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("tok"), expr("cnt_t * 1000000L div cnt").as("w"))

  /** Score documents with a trained weight table: the integer mean
    * token weight (`sum div n`, in [0, 10⁶]), out-of-vocabulary tokens
    * at the neutral prior. `predicted_target` gates at the midpoint.
    *
    * Scale shape: the weight table is vocabulary-sized, orders of
    * magnitude under the corpus — broadcast it (the default), and the
    * token stream is never shuffled on token; only the per-doc
    * aggregate shuffles, keyed by the id the corpus is already
    * distributed by. Set `broadcastWeights=false` when the vocabulary
    * outgrows executor memory. */
  def scoreByTokenWeights(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, neutral: Long = 500000L,
      threshold: Long = 500000L,
      broadcastWeights: Boolean = true): DataFrame = {
    val w = if (broadcastWeights) broadcast(weights) else weights
    docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("tok"))
      .join(w, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("w"), lit(neutral))).as("s"),
        count(lit(1)).as("n"))
      .withColumn("score_fp", expr("s div n"))
      .select(col(idCol), col("score_fp"),
        (col("score_fp") >= lit(threshold)).cast("int").as("predicted_target"))
  }

  /** Shared tf-idf weight table of q97/q126: tokenize (lowercased),
    * per-(doc, term) tf, per-term df over the given corpus, and the
    * integer idf-surrogate weight `tf·10⁶ div df` (exact in both
    * engines; ln-based idf differs by ulps across libm). Weights stay
    * Long-safe while tf·10⁶ < 2^63 — consumers squaring or
    * cross-multiplying weights must go through decimal first. */
  def tfIdfWeights(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term"))
      .withColumn("w", expr("tf * 1000000L div df"))
  }

  /** Vocabulary heavy hitters via a Count-Min sketch
    * ([[graft.functions.CountMinAgg]]): tokens whose estimated frequency
    * is at least `threshold`, without ever shuffling token rows.
    *
    * Two passes over the token stream, both ending in bounded state:
    * pass 1 folds every occurrence into one `depth×width` counter matrix
    * (map-side combined, single-row reduce); pass 2 probes the sketch —
    * broadcast as one row — with the distinct vocabulary, a pure map
    * stage plus one vocabulary-sized distinct. Estimates can only
    * overestimate (hash collisions add, never subtract), so the result is
    * a superset of the true heavy hitters at exactly reproducible
    * values — both engines rebuild the identical counter matrix from the
    * shared affine hash family, which keeps the query hash-checkable. */
  def heavyHitters(docs: DataFrame, textCol: String, threshold: Long,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    import graft.functions.SketchFunctions._
    val hashed = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .select(col("tok"), h60(col("tok")).as("h"))
    val sketch = hashed.agg(count_min_agg(col("h"), depth, width).as("sketch"))
    hashed.distinct()
      .crossJoin(broadcast(sketch))
      .select(col("tok"),
        cms_estimate_long(col("sketch"), col("h"), depth, width).as("est_count"))
      .filter(col("est_count") >= threshold)
  }

  /** Within-document duplicate-sentence metrics — the sentence-level
    * Gopher repetition signals (q57 covers tokens): fraction of repeated
    * sentences and fraction of characters inside repeats. A high value
    * flags boilerplate soup (nav bars, cookie banners, templated pages)
    * BEFORE any corpus-wide pass — and unlike [[graft.dedup.Dedup.sentenceDedup]]
    * this is a pure per-row computation: split + distinct + two
    * element-length folds, all narrow array ops, NO shuffle at any
    * scale. Same `'. '` sentence grid as sentenceDedup. */
  def dupSentenceStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val parts = split(trim(col(textCol)), "\\. ")
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), parts.as("_p"))
      .select(col(idCol),
        size(col("_p")).cast("long").as("n_sentences"),
        (size(col("_p")) - size(array_distinct(col("_p")))).cast("long")
          .as("n_dup_sentences"),
        aggregate(col("_p"), lit(0L), (acc, s) => acc + length(s)).as("_chars_all"),
        aggregate(array_distinct(col("_p")), lit(0L), (acc, s) => acc + length(s))
          .as("_chars_uniq"))
      .select(col(idCol), col("n_sentences"), col("n_dup_sentences"),
        (col("n_dup_sentences").cast("double") / col("n_sentences"))
          .as("dup_sentence_frac"),
        when(col("_chars_all") === 0, lit(0.0))
          .otherwise((col("_chars_all") - col("_chars_uniq")).cast("double")
            / col("_chars_all"))
          .as("dup_char_frac"))
  }

  /** Required-stopword set for the Gopher "contains at least two of…"
    * rule (Rae et al. 2021, arXiv:2112.11446, table A1). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style word-level document-quality rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) — the subset meaningful on a single-line
    * corpus (the line-shape rules — bullet starts, ellipsis ends — need
    * newline structure this table does not carry). Per-document signals
    * plus the combined `passes` gate:
    *
    *  - `n_words` within `[minWords, maxWords]`
    *  - `mean_word_len` within [3, 10]
    *  - `frac_alpha_words` ≥ 0.8 (words containing at least one letter)
    *  - `symbol_ratio` ≤ 0.1 (`#` / `…` / `...` occurrences per word)
    *  - `n_stop_hits` ≥ 2 (distinct members of `stopSet` present)
    *
    * Pure per-row codegen'd array math over the token array — no
    * shuffle, no join; at 100 TB this is a map-only pass that fuses with
    * whatever scan feeds it (same scale shape as [[qualityMetrics]]).
    * Every signal is a ratio of integer counts, so both engines produce
    * bit-identical doubles and the gate is oracle-checkable. */
  def gopherRules(docs: DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      stopSet: Seq[String] = gopherStopwords): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = size(toks)
    docs.where(t.isNotNull)
      .select(col(idCol),
        nWords.cast("long").as("n_words"),
        (length(regexp_replace(t, "\\s+", "")).cast("double") / nWords)
          .as("mean_word_len"),
        (size(filter(toks, tk => tk.rlike("[A-Za-z]"))).cast("double") / nWords)
          .as("frac_alpha_words"),
        (size(regexp_extract_all(t, lit("#|\\.\\.\\.|…"), lit(0))).cast("double")
          / nWords).as("symbol_ratio"),
        // array_intersect dedupes, so this counts DISTINCT stopword
        // members present — the "contains at least 2 of" membership form.
        // lower() the already-split array rather than re-tokenizing
        // lower(text): lowercasing never changes whitespace, so the
        // tokens are identical and the document is regex-split once
        size(array_intersect(transform(toks, tk => lower(tk)),
          array(stopSet.map(lit): _*)))
          .cast("long").as("n_stop_hits"))
      .withColumn("passes",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("frac_alpha_words") >= 0.8 &&
          col("symbol_ratio") <= 0.1 &&
          col("n_stop_hits") >= 2)
  }

  /** BPE merge-pair induction — the first step of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016, arXiv:1508.07909): count
    * adjacent character pairs across the corpus, weighted by word
    * frequency; the top pair is the first merge a BPE trainer would
    * apply.
    *
    * Scale shape is the part that matters: the corpus token stream is
    * aggregated to the DISTINCT vocabulary first (map-side-combining
    * count), and the character-pair explosion — the expensive quadratic-
    * looking bit — runs over distinct words only, each pair weighted by
    * the word's corpus count. At 100 TB the vocabulary is millions of
    * rows while the token stream is trillions; exploding after the
    * vocabulary agg is the difference between a bounded pass and an
    * unbounded one. The final ranking window is over the pair universe
    * (bounded by alphabet², thousands of rows at most), so its single
    * partition is bounded state, not a corpus sort. */
  def bpePairCounts(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val vocab = docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("word_n"))
    val pairs = vocab
      .where(length(col("word")) >= 2)
      .select(col("word_n"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
    val w = Window.orderBy(desc("n_occurrences"), asc("pair"))
    pairs.groupBy("pair").agg(sum(col("word_n")).as("n_occurrences"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .select("rnk", "pair", "n_occurrences")
  }

  /** Hashed bag-of-words embedding (feature hashing, Weinberger et al.
    * 2009, arXiv:0902.2206) — the model-free text→vector bridge: each
    * token lands in ONE of `dim` cells (`h60 mod dim`) with a hash-derived
    * ±1 sign, and the document vector is the per-cell sum. Inner products
    * of these vectors approximate token-overlap similarity, so the
    * documents table can flow into the whole ANN / near-dup / clustering
    * stack ([[graft.sim.Similarity]], [[graft.sim.PqIndex]]) without any
    * trained embedder.
    *
    * Integer-exact (cells are signed counts), hence oracle-checkable.
    * Two shuffles at any scale, both map-side combined and bounded by
    * docs×dim rows: the (doc, cell) partial-sum agg, then the per-doc
    * assembly; the raw token stream itself is never shuffled. */
  def hashedBowEmbedding(docs: DataFrame, textCol: String, idCol: String,
      dim: Int = 16): DataFrame = {
    require(dim > 0, "dim must be positive")
    val cell = docs.where(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("tok"))
      .select(col(idCol), h60(col("tok")).as("h"))
      .select(col(idCol),
        pmod(col("h"), lit(dim.toLong)).cast("int").as("j"),
        when(shiftright(col("h"), 59).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L).as("s"))
    cell.groupBy(col(idCol), col("j")).agg(sum(col("s")).as("v"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("j"), col("v")))).as("m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          j => coalesce(element_at(col("m"), j), lit(0L))).as("embedding"))
  }

  /** Corpus drift / mixture monitoring: how far each source's token
    * distribution sits from the REST of the corpus — the "did this
    * crawl batch change under me" signal a mixture pipeline watches
    * (a drifting source silently shifts the trained model's data mix).
    * Per (source, token): in-source rate `pa = c·scale div T_src` vs
    * rest-of-corpus rate `pb = c_rest·scale div T_rest`, scored
    * `drift = (pa−pb)² div (pa+pb+1)` — a χ²-flavored per-cell statistic
    * in pure integer math (same `div` fixed-point family as q97/q130),
    * exact in both engines. Emits the top-`topN` drifting tokens per
    * source plus the source-level total (the sum over ALL tokens, not
    * just the listed ones).
    *
    * TWO-sided: the cell grid is (every source) × (every corpus token),
    * not just the tokens a source contains — a source that went SILENT
    * on a token the rest of the corpus carries drifts by that token's
    * rest rate (`pa = 0`), which is exactly the "crawl batch dropped a
    * topic" event one-sided scoring is blind to.
    *
    * Scale shape: the token stream collapses to (source, token) counts
    * in one map-side-combining shuffle; everything after is vocab-sized
    * — the global-count agg, the sources×vocab grid (sources are
    * typically tens, so the grid is a small multiple of the vocab), the
    * token-keyed join, the per-source window. Source totals and the
    * grand total ride broadcasts. A single-source corpus has no "rest"
    * to drift from and returns empty (T_rest > 0 guard). The fixed-point
    * products stay in Long: `scale ≤ 2·10⁹` keeps `(pa−pb)²` under 2^63
    * always, and the count·scale products are exact while corpus tokens
    * × scale < 2^63 (~9·10¹² tokens at the 10⁶ default; lower `scale`
    * for a bigger corpus — Spark ANSI mode and DuckDB both throw loudly
    * on overflow rather than corrupting). */
  def sourceDriftStats(docs: DataFrame, textCol: String, groupCol: String,
      topN: Int, scale: Long = 1000000L): DataFrame = {
    require(scale > 0 && scale <= 2000000000L,
      s"scale=$scale outside (0, 2e9] — (pa-pb)^2 must stay under 2^63")
    val tok = docs.select(col(groupCol).as("src"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    // materialize the (source, token) counts ONCE: four consumers (global
    // counts, source totals, grand total, the scored join) reference this
    // subtree through fresh exprIds, so without the leaf the corpus
    // tokenize→count pipeline is re-planned per consumer (with the two
    // leaves here: 17 exchanges → 3). The leaf is vocab×sources-sized —
    // bounded, never corpus-sized. localCheckpoint: same leak rationale
    // as q126
    val st = graft.plans.LeafPlanRegistry.record(
        tok.groupBy("src", "tok").agg(count(lit(1)).as("c")))
      .localCheckpoint()
    val gt = st.groupBy("tok").agg(sum(col("c")).as("g"))
    val totals = st.groupBy("src").agg(sum(col("c")).as("t"))
    val grand = totals.agg(sum(col("t")).as("grand"))
    // full sources×vocab grid, absent cells at c=0 (the two-sided half);
    // one crossJoin carries BOTH src and t — re-joining totals for t
    // would be a second broadcast over the same tiny table
    val m = gt.crossJoin(broadcast(totals))
      .join(st, Seq("src", "tok"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(grand))
      .filter(col("grand") - col("t") > 0)
      .select(col("src"), col("tok"),
        expr(s"(c * ${scale}L) div t").as("pa"),
        expr(s"((g - c) * ${scale}L) div (grand - t)").as("pb"))
    // the scored relation feeds two consumers (source totals + ranking
    // window) — same leaf treatment, same bounded size
    val d = graft.plans.LeafPlanRegistry.record(
        m.select(col("src"), col("tok"),
          expr("((pa - pb) * (pa - pb)) div (pa + pb + 1)").as("drift_fp")))
      .localCheckpoint()
    val srcTotal = d.groupBy("src")
      .agg(sum(col("drift_fp")).as("src_drift_fp"))
    val w = Window.partitionBy("src").orderBy(desc("drift_fp"), asc("tok"))
    d.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .join(broadcast(srcTotal), Seq("src"))
      .select(col("src").as("source"), col("rnk"), col("tok"),
        col("drift_fp"), col("src_drift_fp"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing analytic: for
    * each candidate vocabulary size V, the fraction of corpus token
    * OCCURRENCES covered by the top-V types by frequency (ties broken
    * by token asc, so the curve is total-order deterministic and
    * oracle-checkable). The decision "is a 32k vocab enough, or does
    * 128k buy real coverage" reads straight off this table.
    *
    * Scale shape: the corpus stream collapses to type counts in one
    * map-side-combining shuffle; the ranking window and running sum are
    * vocab-sized; the requested sizes ride a broadcast and each picks
    * its prefix maximum. Nothing corpus-sized moves after the first
    * agg. */
  def vocabCoverage(docs: DataFrame, textCol: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ > 0), "sizes must be positive")
    val counts = docs
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(desc("c"), asc("tok"))
    val ranked = counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = ranked.agg(sum(col("c")).as("total"))
    val sizesDf = docs.sparkSession.createDataFrame(
      sizes.distinct.sorted.map(Tuple1(_))).toDF("vocab_size")
    ranked.crossJoin(broadcast(sizesDf))
      .filter(col("rnk") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(max(col("rnk")).as("n_types"), max(col("cum")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("n_types"), col("covered_tokens"),
        (col("covered_tokens").cast("double") / col("total")).as("coverage"))
  }

  /** q172's fixed ranked merge table — well-formed (see the query's
    * comment): r2 consumes r0+r1's products, r3 consumes r2's, r5
    * consumes r4's, r7 consumes r6's; every consuming pair outranks its
    * producers. Shared verbatim by the oracle's VALUES list. */
  private[graft] val bpeApplyMerges: Seq[((String, String), Int)] = Seq(
    (("t", "a"), 0), (("b", "l"), 1), (("ta", "bl"), 2), (("tabl", "e"), 3),
    (("s", "c"), 4), (("sc", "a"), 5), (("o", "r"), 6), (("or", "d"), 7))

  val queries: Map[String, Q] = Map(
    // per-group quantile gating: keep docs above their language's p75
    // length — the "adaptive threshold" quality cut (a global cut-off
    // over-prunes verbose languages and under-prunes terse ones). Exact
    // interpolated percentile; the compare is ulp-robust because
    // integer char counts can never sit within a ulp of a fractional
    // threshold. Tiny threshold table → broadcast; corpus scanned once
    // per aggregate, shuffled never.
    "q116_quality_percentile_gate" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val th = docs.groupBy("lang")
        .agg(expr("percentile(n_chars, 0.75)").as("p75"))
      docs.join(broadcast(th), Seq("lang"))
        .filter(col("n_chars") > col("p75"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .join(docs.groupBy("lang").agg(count(lit(1)).as("n_total")), Seq("lang"))
        .select("lang", "n_total", "n_kept")
        .orderBy("lang")
    },

    // temperature-scaled (α=1/2) per-source token budgets + q99-style
    // selection; output is the realized mix profile
    "q117_temperature_mixture" -> { (s, d) =>
      temperatureMixture(Tables(s, d, "documents"), "text", "doc_id",
          "source", col("n_chars"), totalBudget = 20000L)
        .groupBy("source")
        .agg(first(col("budget_tokens")).as("budget_tokens"),
          count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sel_tokens"))
        .orderBy("source")
    },

    // weighted blocklist safety filter: flagged-token counts, severity
    // score, and the density cut — zero-shuffle per-row fold
    "q132_blocklist_filter" -> { (s, d) =>
      blocklistFilter(Tables(s, d, "documents"), "doc_id", "text",
        Seq("slow" -> 1L, "dup" -> 5L, "big" -> 2L), maxDensity = 0.05)
        .orderBy("doc_id")
    },

    // trained domain classifier (CCNet-style filter, closed form):
    // token purity weights from a labeled slice (doc_id % 5 != 0,
    // target = English), scored over the WHOLE corpus — train and
    // serve compose from the two stages
    "q137_domain_classifier" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      scoreByTokenWeights(docs, "doc_id", "text",
        trainTokenWeights(docs.filter(col("doc_id") % 5 =!= 0),
          "text", col("lang") === "en"))
        .orderBy("doc_id")
    },

    // DSIR-style importance resampling: keep the 120 raw documents whose
    // hashed-bigram profile is most target-like (target = 3 sources'
    // slice); exact fixed-point likelihood-ratio weights, full oracle
    "q130_importance_resample" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      importanceResample(docs,
        docs.filter(col("source").isin("src0", "src1", "src2")),
        "doc_id", "text", buckets = 4096, keep = 120)
    },

    // sparse document similarity WITHOUT embeddings: tf-idf cosine over
    // an inverted-index self-join (pairs meet only on shared terms — the
    // sparse-vector path when no embedding model has run). Weights are
    // q97's integer idf surrogate; dot products and norms are exact
    // decimal sums of integer products, so the final cosine is one
    // deterministic double expression per pair
    "q126_tfidf_cosine_pairs" -> { (s, d) =>
      val docs = Tables(s, d, "documents").filter(col("doc_id") < 100)
      // materialize the weight table ONCE: it feeds three consumers
      // (norms + both self-join sides), and self-joins reference the
      // subtree through fresh exprIds, so ReuseExchange can't
      // canonicalize the repeated tf/df/join pipelines equal — without
      // the leaf the tokenize→tf→df chain is planned (16 exchanges) and
      // partially re-run per consumer. localCheckpoint, not
      // checkpoint(): same leak rationale as bloomSemiJoin
      val w = graft.plans.LeafPlanRegistry.record(
        tfIdfWeights(docs, "doc_id", "text")).localCheckpoint()
      // decimal BEFORE multiplying: w reaches tf·10⁶ when df=1, so w·w
      // crosses 2^63 at tf ≥ 3038 — a silent Long wrap here vs a DuckDB
      // range error there; decimal products are exact in both
      def dec(c: Column) = c.cast(DecimalType(38, 0))
      val norms = w.groupBy("doc_id")
        .agg(sum(dec(col("w")) * dec(col("w"))).as("n2"))
        .select(col("doc_id"), sqrt(col("n2").cast("double")).as("norm"))
      w.select(col("term"), col("doc_id").as("id_a"), col("w").as("w_a"))
        .join(w.select(col("term"), col("doc_id").as("id_b"), col("w").as("w_b")),
          Seq("term"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(sum(dec(col("w_a")) * dec(col("w_b"))).as("dot"))
        .join(norms.select(col("doc_id").as("id_a"), col("norm").as("norm_a")),
          Seq("id_a"))
        .join(norms.select(col("doc_id").as("id_b"), col("norm").as("norm_b")),
          Seq("id_b"))
        .withColumn("cos",
          col("dot").cast("double") / (col("norm_a") * col("norm_b")))
        .filter(col("cos") >= 0.2)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    },

    // per-doc rare-token fraction via the broadcast CMS probe (no
    // vocabulary join)
    "q118_rare_token_stats" -> { (s, d) =>
      rareTokenStats(Tables(s, d, "documents"), "text", "doc_id",
          threshold = 5L)
        .orderBy("doc_id")
    },

    // sentence-level repetition signals, shuffle-free
    "q112_dup_sentence_stats" -> { (s, d) =>
      dupSentenceStats(Tables(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // vocabulary heavy hitters over the Count-Min sketch — the oracle
    // rebuilds the identical counter matrix in HUGEINT arithmetic
    "q108_heavy_hitters" -> { (s, d) =>
      heavyHitters(Tables(s, d, "documents"), "text", threshold = 50L)
        .orderBy(desc("est_count"), asc("tok"))
    },

    // token-budget selection: per source, the longest documents (exact
    // integer n_chars key) until 700 running tokens (cuts roughly half the docs per source at sf0.01)
    "q99_token_budget" -> { (s, d) =>
      tokenBudgetSelect(Tables(s, d, "documents"), "text", "doc_id",
        "source", col("n_chars"), budgetTokens = 700L)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens", "doc_id")
    },

    // greedy sequence packing (r14): the pretraining pack step —
    // h60-bucketed deterministic greedy fill into 512-token sequences;
    // every boundary replays in the oracle's recursive-CTE walk
    "q188_pack_sequences" -> { (s, d) =>
      packSequences(Tables(s, d, "documents"), "text", "doc_id",
        maxTokens = 512, nBuckets = 8)
        .orderBy("bucket", "seq", "pos")
    },

    // the packing objective: per-bucket sequence count and fixed-point
    // padding fraction — what the trainer wastes on pad tokens
    "q189_pack_stats" -> { (s, d) =>
      packStats(packSequences(Tables(s, d, "documents"), "text", "doc_id",
        maxTokens = 512, nBuckets = 8), maxTokens = 512)
        .orderBy("bucket")
    },

    // per-document salient terms — tf-idf ranking with a deterministic
    // integer idf surrogate: score = tf·1e6 div df. Monotone in (tf, 1/df)
    // exactly like tf·idf for ranking within a document (the corpus-size
    // factor is constant per doc), but exact integer math in both
    // engines — ln()-based idf differs in the last ulp across libm
    // implementations and can flip a rank at a tie boundary.
    "q97_tfidf_topterms" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      tfIdfWeights(docs, "doc_id", "text")
        .withColumn("score", col("w"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "score")
        .orderBy("doc_id", "rnk")
    },

    // token counting: whitespace + BPE-ish regex segmentation
    "q40_token_count" -> { (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(tokens(col("text"))).cast("int").as("n_ws_tokens"),
        size(bpeishTokens(col("text"))).cast("int").as("n_bpeish_tokens"))
        .orderBy("doc_id")
    },

    // Gopher word-level quality gate. The stopword set is the
    // corpus-meaningful one (this vocabulary carries only 'the'/'a' of
    // the canonical Gopher eight, which would pin n_stop_hits at ≤1 and
    // make the ≥2 rule constant-false): membership still varies per doc,
    // so the gate discriminates on both n_words and stop hits here.
    "q144_gopher_rules" -> { (s, d) =>
      gopherRules(Tables(s, d, "documents"), "text", "doc_id",
        minWords = 20, maxWords = 100000,
        stopSet = Seq("the", "a", "of", "and", "to", "in", "is", "with"))
        .orderBy("doc_id")
    },

    // BPE merge-pair induction: top-20 adjacent char pairs weighted by
    // word frequency — pair explosion over the DISTINCT vocabulary only
    "q147_bpe_merge_pairs" -> { (s, d) =>
      bpePairCounts(Tables(s, d, "documents"), "text", topN = 20)
    },

    // BPE APPLY (r12): tokenize the corpus under a fixed ranked merge
    // table — q147 induces merges, this consumes them, closing the
    // tokenizer loop. The table is WELL-FORMED (every pair whose symbol
    // is a merge product outranks the merge that created it — the shape
    // BPE training produces by construction), which is what makes the
    // oracle's one-fusion-per-step replay exactly equal to BpeEncode's
    // fuse-all-occurrences pass: reselection mid-run can never prefer a
    // pair the current fusion just created. Output: the corpus's BPE
    // piece histogram, top 30 — the vocabulary-coverage view a
    // tokenizer deployment actually reads.
    "q172_bpe_apply" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      docs.filter(col("text").isNotNull)
        .select(explode(tokens(lower(col("text")))).as("w"))
        .filter(col("w") =!= "")
        .select(explode(graft.functions.TextFunctions.bpe_encode(
          col("w"), bpeApplyMerges)).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("piece")).limit(30)
    },

    // hashed bag-of-words embedding (feature hashing): the 16-dim signed
    // count vector, compared as its comma-joined exact string + L1 norm
    "q148_hashed_embedding" -> { (s, d) =>
      hashedBowEmbedding(Tables(s, d, "documents"), "text", "doc_id", dim = 16)
        .select(col("doc_id"),
          concat_ws(",", transform(col("embedding"),
            v => v.cast("string"))).as("emb"),
          aggregate(col("embedding"), lit(0L), (acc, v) => acc + abs(v))
            .as("l1"))
        .orderBy("doc_id")
    },

    // the text→vector bridge COMPOSED into the ANN stack: hashed
    // bag-of-words embeddings (q148) flow unchanged into
    // Similarity.bruteForceTopK — nearest documents by token-overlap
    // cosine with NO trained embedder anywhere. The long→float cast is
    // exact (cells are signed counts bounded by document length), so the
    // whole chain stays oracle-replayable end to end.
    "q149_hashed_ann_compose" -> { (s, d) =>
      // materialize the embedding table ONCE: it feeds both topK sides
      // (broadcast queries + streamed corpus), which reference the
      // tokenize→cell→assemble subtree through fresh exprIds that
      // ReuseExchange can't canonicalize equal — without the leaf the
      // three-exchange build pipeline is planned and partially re-run
      // per side (6 shuffles → 2). localCheckpoint: same leak rationale
      // as q126's weight table
      val vecs0 = hashedBowEmbedding(Tables(s, d, "documents"), "text",
        "doc_id", dim = 16)
        // a zero vector has no direction — drop it on BOTH sides so the
        // oracle's raw-division cosine stays well-defined (needs every
        // cell's signs to cancel exactly; none at the harness SFs, but
        // guarded for any corpus)
        .filter(aggregate(col("embedding"), lit(0L),
          (acc, v) => acc + abs(v)) > 0)
        .select(col("doc_id").as("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
      val vecs = graft.plans.LeafPlanRegistry.record(vecs0).localCheckpoint()
      graft.sim.Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") < 8), vecs, "vec_id", "embedding", 3)
        .orderBy("query_id", "rnk")
    },

    // vocabulary coverage curve at tokenizer-sizing checkpoints
    "q152_vocab_coverage" -> { (s, d) =>
      vocabCoverage(Tables(s, d, "documents"), "text",
        sizes = Seq(10, 50, 100, 500, 1000))
        .orderBy("vocab_size")
    },

    // corpus drift per source: top-5 drifting tokens + source-level sum
    "q150_source_drift" -> { (s, d) =>
      sourceDriftStats(Tables(s, d, "documents"), "text", "source", topN = 5)
        .orderBy("source", "rnk")
    },

    // quality scoring
    "q41_text_quality" -> { (s, d) =>
      qualityMetrics(Tables(s, d, "documents"), "text")
        .select("doc_id", "n_chars", "n_tokens", "n_punct", "punct_ratio",
          "avg_token_len", "uniq_token_ratio")
        .orderBy("doc_id")
    },

    // document fingerprinting — md5-normalized (oracle-checkable)
    "q42_fingerprint" -> { (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        fingerprint(col("text")).as("fp_md5"))
        .orderBy("doc_id")
    },

    // document fingerprinting — rolling hash (order-sensitive 60-bit
    // rotate-xor fold over md5-derived token hashes; oracle-checked)
    "q46_rolling_fingerprint" -> { (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        rollingFingerprint(col("text")).as("fp_rolling"))
        .orderBy("doc_id")
    },

    // shingling statistics (basis of MinHash / Jaccard dedup).
    // n_shingles needs no array at all (it's max(n_tokens-2, 0)); the
    // distinct count runs the native one-pass expression — the composed
    // transform/array_distinct form evaluated interpreted lambdas per
    // shingle and was 50× slower at sf0.1
    "q43_shingle_stats" -> { (s, d) =>
      val nToks = size(tokens(col("text")))
      Tables(s, d, "documents").select(
        col("doc_id"),
        // when() keeps null text null (greatest skips nulls and would
        // turn it into 0, diverging from the oracle's CASE)
        when(col("text").isNotNull, greatest(nToks - lit(2), lit(0)))
          .cast("int").as("n_shingles"),
        size(distinctWordShingles(col("text"), 3)).cast("int")
          .as("n_distinct_shingles"))
        .orderBy("doc_id")
    },

    // sliding-window chunking (chunk=64 tokens, overlap=8): the chunk
    // fingerprint keeps the compare compact; chunk_text rides the same
    // plan when a consumer wants the payload
    "q102_chunk_documents" -> { (s, d) =>
      chunkDocuments(Tables(s, d, "documents"), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 8)
        .select(col("doc_id"), col("chunk_idx"), col("start_token"),
          col("n_chunk_tokens"), md5(col("chunk_text")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    },

    // language ID (stopword-overlap heuristic) + corpus language profile.
    // Uses the pure-expression form ([[langIdExpr]]): per-row codegen'd
    // array_intersect argmax, ONE tiny shuffle (the final 25-row agg) —
    // no explode, no join. The relational twin [[langIdTable]] computes
    // the identical result (OperatorsSpec proves the equality) but pays
    // an explode + broadcast join + three more shuffles; at any scale the
    // expression form dominates, and in the per-query bench it also
    // avoids ~2.5s of plan/codegen overhead.
    "q44_lang_id" -> { (s, d) =>
      Tables(s, d, "documents")
        .select(col("lang"), langIdExpr(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "lang_pred")
    },

    // corpus quality filter: the canonical "clean the crawl" gate —
    // keep documents passing all threshold checks (pure pushdown-able
    // predicates over the quality metrics)
    "q47_quality_filter" -> { (s, d) =>
      qualityMetrics(Tables(s, d, "documents"), "text")
        .filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.05 &&
          col("avg_token_len") >= 3.0 && col("uniq_token_ratio") > 0.3)
        .select("doc_id", "n_tokens", "punct_ratio", "uniq_token_ratio")
        .orderBy("doc_id")
    },

    // the full "clean the crawl" composition: quality gate → exact dedup
    // (min-id survivor) → deterministic train/val/test split, reported as
    // per-split counts + surviving token volume. Composes q47 + q51 + q82
    // end-to-end — each stage is a narrow-column pass, so the whole
    // pipeline is two shuffles (dedup window, final agg) at any scale.
    "q48_corpus_pipeline" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val gated = qualityMetrics(docs, "text")
        .filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.05 &&
          col("avg_token_len") >= 3.0 && col("uniq_token_ratio") > 0.3)
      val w = Window.partitionBy("fp").orderBy(col("doc_id"))
      val deduped = gated
        .withColumn("fp", fingerprint(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      deduped
        .withColumn("split", graft.ops.Extended.splitColumn(col("text")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy("split")
    },

    // statistical LM fluency (perplexity-family quality signal, exact
    // fixed-point math — see bigramFluency)
    "q49_bigram_fluency" -> { (s, d) =>
      bigramFluency(Tables(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // pattern scrubbing: URL/email detection + removal (the safety/
    // cleaning pass every crawl pipeline runs before training) — counts
    // and the post-strip length, RE2-compatible patterns only
    "q56_pattern_scrub" -> { (s, d) =>
      val url = "https?://[^\\s]+"
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val t = col("text")
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(t, lit(url), lit(0))).cast("int").as("n_urls"),
        size(regexp_extract_all(t, lit(email), lit(0))).cast("int").as("n_emails"),
        length(regexp_replace(regexp_replace(t, url, ""), email, ""))
          .cast("long").as("clean_len"))
        .orderBy("doc_id")
    },

    // repetition stats (Gopher-style quality rules): duplicate-token
    // fraction and the most-frequent token's share of the document
    "q57_repetition_stats" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val tok = docs.select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("tok"))
      val stats = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_tok_count"))
        .select(col("doc_id"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
            .as("dup_token_frac"),
          (col("max_tok_count").cast("double") / col("n_tokens"))
            .as("top_token_share"))
      docs.select("doc_id").join(stats, Seq("doc_id"), "left_outer")
        .orderBy("doc_id")
    },

    // corpus-level token stats per source (the "what's in my crawl" query)
    "q45_corpus_stats" -> { (s, d) =>
      Tables(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("total_tokens"),
          sum(dec(length(col("text")).cast("double") / 4.0)).cast("double").as("est_llm_tokens"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("source")
    }
  )

  /** Shared q108/q118 oracle scaffolding: DuckDB fragments replaying the
    * [[graft.functions.CountMinAgg]] counter matrix — the per-row bucket
    * expression, the counter CTEs (over a CTE named `h` with a column
    * `h`), the probe-join chain, and the least-of-rows estimate. One
    * place to fix if the bucket math or escaping ever changes. */
  private def cmsOracleParts(depth: Int, width: Int)
      : (String, String => String, String) = {
    val params = graft.functions.MinHashAgg.affineParams(depth)
    val P = graft.functions.MinHashAgg.P
    def bucket(h: String, i: Int): String = {
      val (a, b) = params(i)
      s"CAST((($a::HUGEINT * $h + $b) % $P) % $width AS BIGINT)"
    }
    val counters = (0 until depth).map { i =>
      s"c$i AS (SELECT ${bucket("h", i)} AS bucket, " +
        s"CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1)"
    }.mkString(",\n")
    val joins = (probe: String) => (0 until depth)
      .map(i => s"JOIN c$i x$i ON x$i.bucket = ${bucket(probe, i)}")
      .mkString("\n")
    val est = (0 until depth).map(i => s"x$i.n").mkString("least(", ", ", ")")
    (counters, joins, est)
  }

  /** DuckDB replay of the q108 Count-Min sketch: per hash row, the
    * counter table is a GROUP BY on the identical affine bucket function
    * (HUGEINT arithmetic, same `(a_i, b_i)` literals the executors
    * derive); the estimate is the `least` across rows. Probed buckets
    * are never empty (the probe token itself counted into them), so the
    * inner joins lose nothing. */
  private def q108Oracle: String = {
    val threshold = 50
    val (counters, joinsFor, est) = cmsOracleParts(depth = 4, width = 1024)
    val joins = joinsFor("p.h")
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (SELECT tok, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       |  FROM toks),
       |$counters,
       |probe AS (SELECT DISTINCT tok, h FROM h)
       |SELECT p.tok, $est AS est_count
       |FROM probe p
       |$joins
       |WHERE $est >= $threshold
       |ORDER BY est_count DESC, tok ASC""".stripMargin
  }

  /** q118 oracle: q108's counter-matrix replay at width 8192, probed per
    * token OCCURRENCE and aggregated per document. */
  private def q118Oracle: String = {
    val threshold = 5
    val (counters, joinsFor, est) = cmsOracleParts(depth = 4, width = 8192)
    val joins = joinsFor("p.h")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       |  FROM toks),
       |$counters,
       |e AS (SELECT p.doc_id, $est AS est FROM h p
       |$joins)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(CASE WHEN est < $threshold THEN 1 END) AS BIGINT) AS n_rare,
       |  CAST(count(CASE WHEN est < $threshold THEN 1 END) AS DOUBLE)
       |    / count(*) AS rare_frac
       |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE core of the q148/q149 oracles: token stream → h60 →
    * (cell, sign) → per-(doc, cell) sums → dense 16-cell grid. One
    * definition so the two hashed-embedding oracles cannot drift if the
    * hash family (the 2^59 sign bit, the mod-16 cell) ever changes —
    * same rationale as [[graft.dedup.Dedup]]'s simHashOracleCore. */
  private val hashedBowOracleCore: String =
    """tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |h AS (SELECT doc_id,
      |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
      |cell AS (SELECT doc_id, h % 16 AS j,
      |    CASE WHEN (h // 576460752303423488) % 2 = 1 THEN 1 ELSE -1 END AS s
      |  FROM h),
      |agg AS (SELECT doc_id, j, CAST(sum(s) AS BIGINT) AS v
      |        FROM cell GROUP BY 1, 2),
      |filled AS (SELECT d.doc_id, gs.j, coalesce(a.v, 0) AS v
      |  FROM (SELECT DISTINCT doc_id FROM tok) d
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS j) gs
      |  LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.j = gs.j)""".stripMargin

  /** q172 oracle: greedy BPE APPLY replayed as a recursive CTE — each
    * level fuses exactly ONE occurrence of the lowest-ranked pair
    * present (leftmost, via default-first-match regexp_replace over the
    * chr(1)-delimited symbol string), and arg_max(s, lvl) reads each
    * word's fixpoint. One-fusion-per-level equals [[graft.functions
    * .BpeEncode]]'s fuse-all-occurrences pass BECAUSE the merge table
    * is well-formed (see [[bpeApplyMerges]]): a fusion can only create
    * pairs that outrank it, so reselection keeps returning the same
    * pair until its occurrences are exhausted — the exact left-to-right
    * order compute() uses. The VALUES list is GENERATED from the same
    * Seq the query passes to bpe_encode; the two engines cannot drift. */
  private def q172Oracle: String = {
    val values = bpeApplyMerges
      .map { case ((a, b), r) => s"('$a','$b',$r)" }.mkString(", ")
    s"""WITH RECURSIVE
       |merges(a, b, r) AS (SELECT * FROM (VALUES $values) m(a, b, r)),
       |tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |        FROM documents WHERE text IS NOT NULL),
       |w0 AS (SELECT doc_id, i, t[i] AS w
       |       FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tok)
       |       WHERE t[i] <> ''),
       |st(doc_id, i, lvl, s) AS (
       |  SELECT doc_id, i, 0,
       |    chr(1) || array_to_string(regexp_split_to_array(w, ''), chr(1)) || chr(1)
       |  FROM w0
       |  UNION ALL
       |  SELECT st.doc_id, st.i, st.lvl + 1, regexp_replace(st.s, p.pat, p.rep)
       |  FROM st, LATERAL (
       |    SELECT chr(1) || m.a || chr(1) || m.b || chr(1) AS pat,
       |           chr(1) || m.a || m.b || chr(1) AS rep
       |    FROM merges m
       |    WHERE position(chr(1) || m.a || chr(1) || m.b || chr(1) IN st.s) > 0
       |    ORDER BY m.r LIMIT 1) p),
       |fin AS (SELECT doc_id, i, arg_max(s, lvl) AS s FROM st GROUP BY doc_id, i),
       |pieces AS (SELECT unnest(string_split(s, chr(1))) AS piece FROM fin)
       |SELECT piece, CAST(count(*) AS BIGINT) AS n
       |FROM pieces WHERE piece <> ''
       |GROUP BY piece ORDER BY n DESC, piece ASC LIMIT 30""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q152_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
        |r AS (SELECT tok, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS rnk,
        |    CAST(sum(c) OVER (ORDER BY c DESC, tok ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM c),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
        |v AS (SELECT unnest([10, 50, 100, 500, 1000]) AS vocab_size)
        |SELECT v.vocab_size, CAST(max(r.rnk) AS BIGINT) AS n_types,
        |  CAST(max(r.cum) AS BIGINT) AS covered_tokens,
        |  CAST(max(r.cum) AS DOUBLE) / t.total AS coverage
        |FROM v JOIN r ON r.rnk <= v.vocab_size CROSS JOIN t
        |GROUP BY v.vocab_size, t.total
        |ORDER BY vocab_size""".stripMargin,
    "q150_source_drift" ->
      """WITH tok AS (SELECT source AS src,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |st AS (SELECT src, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |gt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM st GROUP BY 1),
        |tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS t FROM st GROUP BY 1),
        |gr AS (SELECT CAST(sum(c) AS BIGINT) AS grand FROM st),
        |grid AS (SELECT s.src, g.tok, g.g
        |  FROM gt g CROSS JOIN (SELECT src FROM tot) s),
        |cells AS (SELECT grid.src, grid.tok, grid.g,
        |    coalesce(st.c, 0) AS c
        |  FROM grid LEFT JOIN st
        |    ON st.src = grid.src AND st.tok = grid.tok),
        |m AS (SELECT cells.src, cells.tok,
        |    CAST(c * 1000000 // tot.t AS BIGINT) AS pa,
        |    CAST((g - c) * 1000000 // (gr.grand - tot.t) AS BIGINT) AS pb
        |  FROM cells JOIN tot USING (src) CROSS JOIN gr
        |  WHERE gr.grand - tot.t > 0),
        |d AS (SELECT src, tok,
        |    CAST((pa - pb) * (pa - pb) // (pa + pb + 1) AS BIGINT) AS drift_fp
        |  FROM m),
        |s AS (SELECT src, CAST(sum(drift_fp) AS BIGINT) AS src_drift_fp
        |      FROM d GROUP BY 1),
        |r AS (SELECT src, tok, drift_fp,
        |    CAST(row_number() OVER (PARTITION BY src
        |      ORDER BY drift_fp DESC, tok ASC) AS BIGINT) AS rnk FROM d)
        |SELECT r.src AS source, r.rnk, r.tok, r.drift_fp, s.src_drift_fp
        |FROM r JOIN s USING (src) WHERE rnk <= 5
        |ORDER BY source, rnk""".stripMargin,
    "q144_gopher_rules" ->
      """WITH w AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks
        |  FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(toks) AS mean_word_len,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
        |      AS DOUBLE) / len(toks) AS frac_alpha_words,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
        |      / len(toks) AS symbol_ratio,
        |    CAST(len(list_intersect(ltoks,
        |      ['the','a','of','and','to','in','is','with'])) AS BIGINT)
        |      AS n_stop_hits
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha_words,
        |  symbol_ratio, n_stop_hits,
        |  (n_words BETWEEN 20 AND 100000
        |   AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND frac_alpha_words >= 0.8
        |   AND symbol_ratio <= 0.1
        |   AND n_stop_hits >= 2) AS passes
        |FROM m ORDER BY doc_id""".stripMargin,
    "q172_bpe_apply" -> q172Oracle,
    "q147_bpe_merge_pairs" ->
      """WITH wd AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |wc AS (SELECT word, count(*) AS word_n FROM wd GROUP BY 1),
        |p AS (
        |  SELECT word_n, unnest(list_transform(range(1, length(word)),
        |    i -> word[i:i+1])) AS pair
        |  FROM wc WHERE length(word) >= 2),
        |agg AS (SELECT pair, CAST(sum(word_n) AS BIGINT) AS n_occurrences
        |        FROM p GROUP BY 1),
        |r AS (SELECT pair, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair ASC)
        |    AS BIGINT) AS rnk FROM agg)
        |SELECT rnk, pair, n_occurrences FROM r WHERE rnk <= 20
        |ORDER BY rnk""".stripMargin,
    "q148_hashed_embedding" ->
      s"""WITH $hashedBowOracleCore
        |SELECT doc_id,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS emb,
        |  CAST(sum(abs(v)) AS BIGINT) AS l1
        |FROM filled GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q149_hashed_ann_compose" ->
      s"""WITH $hashedBowOracleCore,
        |vec AS (SELECT doc_id, list(v ORDER BY j) AS emb,
        |    sum(abs(v)) AS l1 FROM filled GROUP BY doc_id),
        |nz AS (SELECT doc_id, emb FROM vec WHERE l1 > 0),
        |q AS (SELECT doc_id AS query_id, emb AS q_vec FROM nz WHERE doc_id < 8),
        |pairs AS (
        |  SELECT q.query_id, e.doc_id AS neighbor_id,
        |    list_aggregate(list_transform(range(1, 17),
        |      i -> q.q_vec[i]::DOUBLE * e.emb[i]::DOUBLE), 'sum') /
        |    (sqrt(list_aggregate(list_transform(range(1, 17),
        |      i -> q.q_vec[i]::DOUBLE * q.q_vec[i]::DOUBLE), 'sum')) *
        |     sqrt(list_aggregate(list_transform(range(1, 17),
        |      i -> e.emb[i]::DOUBLE * e.emb[i]::DOUBLE), 'sum'))) AS cos
        |  FROM q, nz e WHERE e.doc_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
        |  FROM pairs)
        |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    "q108_heavy_hitters" -> q108Oracle,
    "q118_rare_token_stats" -> q118Oracle,
    "q126_tfidf_cosine_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |tk AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM docs),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tk GROUP BY doc_id, term),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tfc GROUP BY term),
        |w AS (SELECT doc_id, term, (tf * 1000000) // df AS w
        |  FROM tfc JOIN dfc USING (term)),
        |norms AS (SELECT doc_id,
        |    sqrt(CAST(sum(w::HUGEINT * w) AS DOUBLE)) AS norm
        |  FROM w GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.w::HUGEINT * b.w) AS DOUBLE) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d.id_a, d.id_b,
        |  d.dot / (na.norm * nb.norm) AS cos
        |FROM dots d
        |JOIN norms na ON na.doc_id = d.id_a
        |JOIN norms nb ON nb.doc_id = d.id_b
        |WHERE d.dot / (na.norm * nb.norm) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    // q132: per-token LEFT JOIN against the lexicon VALUES — the
    // relational equivalent of the Spark-side map-literal fold
    "q132_blocklist_filter" ->
      """WITH lex(term, w) AS (VALUES
        |    ('slow', 1::BIGINT), ('dup', 5::BIGINT), ('big', 2::BIGINT)),
        |tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |sc AS (SELECT t.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(l.w) AS BIGINT) AS n_flagged,
        |    CAST(COALESCE(sum(l.w), 0) AS BIGINT) AS flag_score
        |  FROM tok t LEFT JOIN lex l ON t.tok = l.term
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, n_flagged, flag_score,
        |  CAST(n_flagged AS DOUBLE) / n_tokens AS flag_density,
        |  (CAST(n_flagged AS DOUBLE) / n_tokens) <= 0.05 AS kept
        |FROM sc ORDER BY doc_id""".stripMargin,

    // q137: train + score replay — same tokens, same integral-division
    // purity weights, same neutral-prior fallback and midpoint gate
    "q137_domain_classifier" ->
      """WITH lab AS (SELECT doc_id, text, (lang = 'en') AS tgt
        |  FROM documents WHERE doc_id % 5 <> 0),
        |ltok AS (SELECT tgt,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM lab),
        |w AS (SELECT tok,
        |    CAST((SUM(CASE WHEN tgt THEN 1 ELSE 0 END) * 1000000::HUGEINT)
        |      // COUNT(*) AS BIGINT) AS w
        |  FROM ltok GROUP BY tok HAVING COUNT(*) >= 2),
        |atok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |sc AS (SELECT a.doc_id,
        |    CAST(SUM(COALESCE(w.w, 500000)) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM atok a LEFT JOIN w USING (tok)
        |  GROUP BY a.doc_id)
        |SELECT doc_id, CAST(s // n AS BIGINT) AS score_fp,
        |  CASE WHEN s // n >= 500000 THEN 1 ELSE 0 END AS predicted_target
        |FROM sc ORDER BY doc_id""".stripMargin,

    // q130: the full DSIR replay — same bigrams, same h60-mod-4096
    // cells, same HUGEINT `//` likelihood ratios, same top-120 cut
    "q130_importance_resample" ->
      """WITH raw AS (SELECT doc_id, source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM raw WHERE len(t) >= 2),
        |cells AS (SELECT doc_id, source,
        |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4096 AS b
        |  FROM bg),
        |ct_r AS (SELECT b, count(*) AS ct_r FROM cells GROUP BY b),
        |ct_t AS (SELECT b, count(*) AS ct_t FROM cells
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY b),
        |w AS (SELECT r.b,
        |    ((COALESCE(t.ct_t, 0) + 1) * 1000000::HUGEINT) // (r.ct_r + 1)
        |      AS r_fp
        |  FROM ct_r r LEFT JOIN ct_t t USING (b)),
        |scored AS (SELECT c.doc_id, count(*) AS n_bigrams,
        |    sum(w.r_fp) AS score_fp
        |  FROM cells c JOIN w USING (b) GROUP BY c.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_bigrams, 0::BIGINT) AS n_bigrams,
        |  CAST(COALESCE(s.score_fp, 0) AS DOUBLE) AS score
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY score DESC, d.doc_id LIMIT 120""".stripMargin,
    "q117_temperature_mixture" ->
      """WITH t AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |      FROM t GROUP BY source),
        |sw AS (SELECT source, src_tokens,
        |    CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_fp
        |  FROM s),
        |tot AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_total FROM sw),
        |b AS (SELECT source,
        |    CAST((20000::HUGEINT * w_fp) // w_total AS BIGINT) AS budget_tokens
        |  FROM sw, tot),
        |c AS (SELECT t.source, t.n_tokens, b.budget_tokens,
        |    CAST(sum(t.n_tokens) OVER (PARTITION BY t.source
        |      ORDER BY t.n_chars DESC, t.doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t JOIN b USING (source))
        |SELECT source, budget_tokens, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sel_tokens
        |FROM c WHERE cum <= budget_tokens
        |GROUP BY source, budget_tokens ORDER BY source""".stripMargin,
    "q116_quality_percentile_gate" ->
      """WITH th AS (
        |  SELECT lang, quantile_cont(n_chars, 0.75) AS p75
        |  FROM documents GROUP BY lang),
        |tot AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_total
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, tot.n_total, CAST(count(*) AS BIGINT) AS n_kept
        |FROM documents d
        |JOIN th ON d.lang = th.lang
        |JOIN tot ON d.lang = tot.lang
        |WHERE d.n_chars > th.p75
        |GROUP BY d.lang, tot.n_total
        |ORDER BY d.lang""".stripMargin,
    "q112_dup_sentence_stats" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\. ') AS p
        |  FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id,
        |    CAST(len(p) AS BIGINT) AS n_sentences,
        |    CAST(len(p) - len(list_distinct(p)) AS BIGINT) AS n_dup_sentences,
        |    CAST(list_aggregate(list_transform(p, s -> length(s)), 'sum')
        |      AS BIGINT) AS chars_all,
        |    CAST(list_aggregate(list_transform(list_distinct(p), s -> length(s)),
        |      'sum') AS BIGINT) AS chars_uniq
        |  FROM base)
        |SELECT doc_id, n_sentences, n_dup_sentences,
        |  CAST(n_dup_sentences AS DOUBLE) / n_sentences AS dup_sentence_frac,
        |  CASE WHEN chars_all = 0 THEN 0.0
        |       ELSE CAST(chars_all - chars_uniq AS DOUBLE) / chars_all END
        |    AS dup_char_frac
        |FROM m ORDER BY doc_id""".stripMargin,
    // see packWalkCtes below the map for the shared recursive walk
    "q188_pack_sequences" ->
      s"""WITH RECURSIVE ${packWalkCtes(maxTokens = 512, nBuckets = 8)}
        |SELECT doc_id, bucket, seq, pos, n_tokens FROM walk
        |ORDER BY bucket, seq, pos""".stripMargin,
    "q189_pack_stats" ->
      s"""WITH RECURSIVE ${packWalkCtes(maxTokens = 512, nBuckets = 8)},
        |g AS (
        |  SELECT bucket, max(seq) + 1 AS n_seqs,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |  FROM walk GROUP BY bucket)
        |SELECT bucket, n_seqs, n_docs, sum_tokens,
        |  1000000 - (sum_tokens * 1000000) // (n_seqs * 512) AS padding_frac_ppm
        |FROM g ORDER BY bucket""".stripMargin,
    "q99_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 700
        |ORDER BY source, cum_tokens, doc_id""".stripMargin,
    "q97_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score
        |  FROM tf JOIN df USING (term)),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term ASC) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, term, score FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "q40_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER)
        |    AS n_bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q41_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len,
        |  CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS uniq_token_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q42_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q43_shingle_stats" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN len(toks) < 3 THEN 0 ELSE len(toks) - 2 END AS INTEGER) AS n_shingles,
        |  CAST(CASE WHEN len(toks) < 3 THEN 0 ELSE len(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' ')))) END AS INTEGER) AS n_distinct_shingles
        |FROM w ORDER BY doc_id""".stripMargin,
    // q102: same chunk grid (chunk=64, overlap=8 → step=56); DuckDB list
    // slices are 1-based inclusive and clamp past the end, exactly like
    // Spark's slice with a too-long length
    "q102_chunk_documents" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |        GREATEST(1, CAST(ceil((len(toks) - 8) / 56.0) AS INTEGER)) AS nc
        |      FROM t),
        |e AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS i FROM c)
        |SELECT doc_id,
        |  CAST(i AS INTEGER) AS chunk_idx,
        |  CAST(i * 56 AS INTEGER) AS start_token,
        |  CAST(LEAST(64, n - i * 56) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(toks[(i * 56 + 1):(i * 56 + 64)], ' ')) AS chunk_fp
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // q44: the stopword-overlap argmax, mirrored relationally — the
    // lexicon literals and the (score DESC, lang DESC) tie-break match
    // Spark's max(struct(score, lang_cand)) lexicographic max exactly
    "q44_lang_id" -> {
      val lex = stopwords.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }
        .mkString(", ")
      s"""WITH lex(lang_cand, t) AS (VALUES $lex),
         |tok AS (SELECT doc_id,
         |    unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS t
         |  FROM documents),
         |hits AS (SELECT doc_id, lang_cand, count(*) AS score
         |  FROM tok JOIN lex USING (t) GROUP BY doc_id, lang_cand),
         |best AS (SELECT doc_id, lang_cand,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY score DESC, lang_cand DESC) AS rn
         |  FROM hits),
         |pred AS (SELECT d.doc_id, COALESCE(b.lang_cand, 'und') AS lang_pred
         |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1)
         |SELECT d.lang, p.lang_pred, count(*) AS n_docs
         |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY d.lang, p.lang_pred
         |ORDER BY lang, lang_pred""".stripMargin
    },
    "q46_rolling_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(text), '\s+'),
        |      tok -> CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)) AS hs
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, hs),
        |    (acc, h) -> xor(((acc & 36028797018963967) << 5) | (acc >> 55), h))
        |    AS fp_rolling
        |FROM t ORDER BY doc_id""".stripMargin,
    "q47_quality_filter" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len,
        |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS uniq_token_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, punct_ratio, uniq_token_ratio FROM m
        |WHERE n_tokens >= 20 AND punct_ratio < 0.05
        |  AND avg_token_len >= 3.0 AND uniq_token_ratio > 0.3
        |ORDER BY doc_id""".stripMargin,
    "q48_corpus_pipeline" ->
      """WITH m AS (SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len,
        |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS uniq_token_ratio
        |  FROM documents),
        |gated AS (SELECT doc_id, text, n_tokens FROM m
        |  WHERE n_tokens >= 20 AND punct_ratio < 0.05
        |    AND avg_token_len >= 3.0 AND uniq_token_ratio > 0.3),
        |dedup AS (SELECT doc_id, text, n_tokens,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |  FROM gated)
        |SELECT CASE WHEN substr(md5(text), 32, 1) < 'c' THEN 'train'
        |            WHEN substr(md5(text), 32, 1) < 'e' THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM dedup WHERE rn = 1
        |GROUP BY split ORDER BY split""".stripMargin,
    "q49_bigram_fluency" ->
      """WITH raw AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |    i -> {'pos': i, 'tok': toks[i]})) AS s FROM raw)),
        |bg AS (SELECT doc_id, tok,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next
        |  FROM tok),
        |bg2 AS (SELECT doc_id, tok, next FROM bg WHERE next IS NOT NULL),
        |uni AS (SELECT tok, count(*) AS c1 FROM bg2 GROUP BY tok),
        |bi AS (SELECT tok, next, count(*) AS c2 FROM bg2 GROUP BY tok, next),
        |v AS (SELECT count(DISTINCT tok) AS v FROM tok),
        |scored AS (SELECT bg2.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(floor(CAST(bi.c2 + 1 AS DOUBLE) / (uni.c1 + v.v) * 1e9)
        |      AS BIGINT)) AS BIGINT) AS sum_fp
        |  FROM bg2
        |  JOIN bi ON bi.tok = bg2.tok AND bi.next = bg2.next
        |  JOIN uni ON uni.tok = bg2.tok, v
        |  GROUP BY bg2.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_bigrams, 0::BIGINT) AS n_bigrams,
        |  CAST(s.sum_fp AS DOUBLE) / s.n_bigrams / 1e9 AS fluency
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q56_pattern_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(length(regexp_replace(regexp_replace(text, 'https?://[^\s]+', '', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g')) AS BIGINT)
        |    AS clean_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q57_repetition_stats" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
        |st AS (SELECT doc_id,
        |    1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_token_frac,
        |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_share
        |  FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, st.dup_token_frac, st.top_token_share
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q45_corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CAST(length(text) / 4.0 AS DECIMAL(18,6))) AS DOUBLE) AS est_llm_tokens,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
  )

  /** The [[packSequences]] replay shared by q188/q189: h60 bucket, per-
    * bucket id-rank, then the greedy walk as a recursive CTE — one row
    * per (bucket, rank) step carrying `(seq, pos, fill)`; each
    * iteration advances EVERY bucket one document (depth = the largest
    * bucket, not the corpus), with the exact break rule `fill + n >
    * maxTokens` on the running integer fill. The anchor row is rank 1
    * with fill = its own n_tokens — [[packSequences]]'s first-document
    * behavior, where the `fill > 0` guard never fires. */
  private def packWalkCtes(maxTokens: Int, nBuckets: Int): String =
    s"""t AS (
       |  SELECT doc_id,
       |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 15) AS BIGINT)
       |      % $nBuckets AS INTEGER) AS bucket,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, bucket, n_tokens,
       |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM t),
       |walk(bucket, rn, doc_id, n_tokens, seq, pos, fill) AS (
       |  SELECT bucket, rn, doc_id, n_tokens,
       |    CAST(0 AS BIGINT), CAST(0 AS INTEGER), n_tokens
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.bucket, r.rn, r.doc_id, r.n_tokens,
       |    CASE WHEN w.fill + r.n_tokens > $maxTokens THEN w.seq + 1 ELSE w.seq END,
       |    CAST(CASE WHEN w.fill + r.n_tokens > $maxTokens THEN 0
       |              ELSE w.pos + 1 END AS INTEGER),
       |    CASE WHEN w.fill + r.n_tokens > $maxTokens THEN r.n_tokens
       |         ELSE w.fill + r.n_tokens END
       |  FROM walk w JOIN r ON r.bucket = w.bucket AND r.rn = w.rn + 1)""".stripMargin
}
