package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.{ParquetMeta, Tables}
import graft.text.TextAnalysis.{tokens, distinctWordShingles, fingerprint}

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (the 100 TB design point):
  *  - exact dedup is one hash-shuffle on a 32-byte fingerprint, never on
  *    the full text;
  *  - MinHash signatures are computed map-side (64 codegen'd mins over an
  *    exploded shingle stream), so the shuffle carries (doc_id, 64×long),
  *    not documents;
  *  - LSH banding turns the O(n²) pair space into per-bucket joins; the
  *    bucket-size cap bounds skew (a degenerate bucket of k docs would
  *    otherwise produce k² candidate pairs);
  *  - candidate verification re-joins only the candidate doc_ids back to
  *    shingle sets — the full corpus is never self-joined.
  */

/** SimHash near-dup family selector for [[Dedup.nearDups]]. The two
  * concrete families produce DIFFERENT pair sets by design (120-bit
  * Hamming ≤ 3 is stricter than 60-bit ≤ 3) — `Auto` picks by corpus
  * size (cost), so callers who need run-over-run reproducibility as the
  * corpus grows should pin a concrete family. */
sealed trait NearDupFamily
object NearDupFamily {
  /** Size-based dispatch (logs its choice); the exploratory default. */
  case object Auto extends NearDupFamily
  /** 60-bit [[Dedup.simHashNearDups]]: higher recall, quadratic past ~10^5 docs. */
  case object Narrow60 extends NearDupFamily
  /** 120-bit [[Dedup.simHashWideNearDups]]: stricter, linear at corpus scale. */
  case object Wide120 extends NearDupFamily
}

object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup, deterministic survivor: keep the row with the smallest
    * `idCol` per fingerprint group (dropDuplicates keeps an arbitrary row,
    * which is not oracle-checkable). One hash-aggregate shuffle on the
    * 128-bit fingerprint — min_by needs no per-group sort, unlike the
    * equivalent row_number window, and combines map-side. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // internal name, not "fp": withColumn would silently REPLACE a
    // caller's fp column, and appending a second fp would make every
    // downstream select("fp") ambiguous — when the caller has their own
    // fp, their data survives untouched and the operator's fingerprint
    // is simply not emitted (recomputable via dupGroups)
    require(!df.columns.contains("_graft_fp"),
      "input already has a _graft_fp column")
    val cols = df.columns.toSeq
    val deduped = df.withColumn("_graft_fp", fingerprint(col(textCol)))
      .groupBy("_graft_fp")
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("_row"))
    if (cols.contains("fp")) deduped.select(col("_row.*"))
    else deduped.select(col("_row.*"), col("_graft_fp").as("fp"))
  }

  /** Duplicate-group report: fingerprint → group size + surviving id. */
  def dupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  /** Per-doc MinHash signature: `numPerm` independent min-hashes over the
    * word-shingle stream. Hash family: the 60-bit cross-engine shingle
    * hash ([[graft.text.TextAnalysis.h60]]) fed through the affine
    * permutations `(a_i·h + b_i) mod 2^61−1` — every value is replayable
    * by DuckDB (HUGEINT arithmetic, same (a_i, b_i) literals), which is
    * what makes q53 a full hash-compare rather than rows-only. */
  def minHashSignatures(docs: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, shingleN: Int = 3): DataFrame = {
    // Shingle via the native one-pass distinct-n-gram expression — a
    // NARROW map stage (no interpreted array-transform lambda, and no
    // posexplode + lead-window, whose per-doc sort was a whole extra
    // shuffle just to form shingles). MinHash is insensitive to shingle
    // multiplicity, so the distinct set is the exact same signature. The
    // variable-length shingle is hashed once; each permutation re-mixes
    // the fixed 8-byte value (numPerm× fewer string traversals).
    val sh = docs.select(col(idCol),
      explode(distinctWordShingles(col(textCol), shingleN)).as("g"))
      .select(col(idCol), graft.text.TextAnalysis.h60(col("g")).as("h"))
    // one native aggregate (primitive long[numPerm] buffer, map-side
    // partial agg) instead of numPerm separate min() columns —
    // identical values, 64× narrower agg schema, no wide codegen; the
    // ONLY shuffle of the signature pass carries (doc_id, 64×long)
    // partials, never shingle strings
    sh.groupBy(col(idCol))
      .agg(graft.functions.MinHashFunctions
        .minhash_agg(col("h"), numPerm, affine = true).as("signature"))
  }

  /** Corpus-overlap estimate between document groups (sources, dumps,
    * snapshots): one MinHash signature PER GROUP — the elementwise min
    * over every shingle hash the group contains — then the matching-
    * position fraction between group signatures estimates the Jaccard
    * similarity of their shingle SETS. The dataset-level twin of the
    * per-document q53: "how much does crawl N repeat crawl N−1"
    * answered without materializing either shingle set.
    *
    * Scale shape: the only shuffle carries (group, 64×long) partial
    * buffers — map-side combined, bounded by group count, independent
    * of corpus bytes; the pairwise compare is over #groups rows.
    * Same affine family as q53, so the oracle replays every value. */
  def corpusOverlap(docs: DataFrame, textCol: String, groupCol: String,
      numPerm: Int = 64, shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(groupCol).as("grp"),
        explode(distinctWordShingles(col(textCol), shingleN)).as("g"))
      .select(col("grp"), graft.text.TextAnalysis.h60(col("g")).as("h"))
    val sigs = sh.groupBy("grp")
      .agg(graft.functions.MinHashFunctions
        .minhash_agg(col("h"), numPerm, affine = true).as("sig"))
    sigs.select(col("grp").as("group_a"), col("sig").as("sig_a"))
      .join(sigs.select(col("grp").as("group_b"), col("sig").as("sig_b")),
        col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        graft.functions.VectorFunctions
          .sig_match_frac(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** Persist a MinHash-LSH dedup index: the reference corpus's
    * signatures and banded keys as parquet. [[probeLshIndex]] then
    * screens each arriving batch WITHOUT recomputing anything over the
    * standing corpus — the piece [[dedupAgainstReference]] lacks (it
    * re-shingles and re-hashes the full reference every run, untenable
    * when the reference is 100 TB and the batch is a day's crawl).
    * Band rows ride partitioned by `band_idx` (16 independent
    * band-parallel sub-indexes), one file per band whatever the input
    * partitioning ([[graft.sim.IvfIndex.writeByKey]]). */
  def saveLshIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, numPerm: Int = 64, bands: Int = 16, rows: Int = 4): Unit = {
    requireBandGeometry(numPerm, bands, rows)
    val spark = docs.sparkSession
    minHashSignatures(docs, textCol, idCol, numPerm)
      .write.mode("overwrite").parquet(s"$path/sigs")
    // band from the WRITTEN signatures: one signature computation total,
    // and the two files are guaranteed consistent
    val persisted = ParquetMeta.read(spark, s"$path/sigs")
    graft.sim.IvfIndex.writeByKey(
      bandKeys(persisted, idCol, bands, rows)
        .select(col(idCol), col("band_idx"), col("band_hash")),
      "band_idx", s"$path/bands", org.apache.spark.sql.SaveMode.Overwrite)
    // hash-family parameters ride WITH the index: probing with different
    // ones computes band hashes over different signature slices and
    // silently finds (almost) nothing — a total dedup miss, not an error
    import spark.implicits._
    Seq((numPerm, bands, rows)).toDF("num_perm", "bands", "rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Shared probe preparation: stored hash-family params, batch
    * signatures (materialized once), batch band keys, and the
    * bloom-pruned reference band slice — [[probeLshIndex]] joins over
    * it, [[probeLshOversizedBuckets]] reports what a skew cap would
    * drop from it. */
  private final case class ProbePrep(refSigs: DataFrame, newSigs: DataFrame,
      nb: DataFrame, pruned: DataFrame)

  private def prepareProbe(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, textCol: String,
      idCol: String): ProbePrep = {
    val meta = ParquetMeta.read(spark, s"$path/meta").head()
    val (numPerm, bands, rows) = (meta.getAs[Int]("num_perm"),
      meta.getAs[Int]("bands"), meta.getAs[Int]("rows"))
    requireBandGeometry(numPerm, bands, rows)
    val refBands = ParquetMeta.read(spark, s"$path/bands")
    val refSigs = ParquetMeta.read(spark, s"$path/sigs")
    // small by contract (one batch); materialize once — bands and the
    // scoring join would otherwise re-run the shingle pipeline. The
    // batch row count rides the SAME materialization job as an observe
    // metric (the connectedComponents trick): bandKeys emits exactly
    // `bands` rows per signature row, so sigs × bands equals the
    // nb.count() job it replaces — identical bloom sizing, one fewer
    // Spark job per probe.
    val obs = org.apache.spark.sql.Observation()
    val newSigs = graft.plans.LeafPlanRegistry.record(
        minHashSignatures(newDocs, textCol, idCol, numPerm)
          .observe(obs, count(lit(1)).as("n")))
      .localCheckpoint()
    val batchSigs = obs.get("n").toString.toLong
    val nb = bandKeys(newSigs, idCol, bands, rows)
    val bf = nb.stat.bloomFilter("band_hash",
      math.max(1000L, batchSigs * bands), 0.01)
    val pruned = refBands
      .filter(graft.functions.SketchFunctions
        .bloom_might_contain_long(col("band_hash"), bf))
    ProbePrep(refSigs, newSigs, nb, pruned)
  }

  /** Probe a [[saveLshIndex]] index with a new batch: candidates are
    * (new, ref) pairs sharing a band, scored by signature agreement,
    * kept at `threshold`. Only the BATCH is shingled/hashed; the index
    * scan is pre-pruned by a bloom filter over the batch's band hashes
    * (pre-shuffle, [[graft.functions.BloomMightContainLong]] semantics:
    * false positives are dropped by the join, nothing is lost), so the
    * shuffle carries ~matching index rows, not the index.
    *
    * `maxBucket` is an OPT-IN skew guard (default: no cap). The
    * default changed from 1000: silently discarding every candidate in
    * a boilerplate-heavy reference bucket is a recall regression with
    * no signal, and the persisted-index probe is exactly where a
    * standing web corpus accumulates such buckets. Callers who enable
    * the cap at scale should run [[probeLshOversizedBuckets]] with the
    * same arguments beside it — the side output that makes the
    * discarded candidate volume observable. */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxBucket: Int = Int.MaxValue): DataFrame =
    probeFrom(prepareProbe(spark, path, newDocs, textCol, idCol),
      idCol, threshold, maxBucket)

  /** Capped probe + its drop report from ONE shared preparation (the
    * batch is shingled/hashed once, one bloom build): `(hits,
    * droppedBuckets)`. This is the form a capped production probe
    * should run — [[probeLshOversizedBuckets]] alone re-prepares and is
    * for after-the-fact diagnosis. */
  def probeLshIndexObserved(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxBucket: Int): (DataFrame, DataFrame) = {
    val prep = prepareProbe(spark, path, newDocs, textCol, idCol)
    (probeFrom(prep, idCol, threshold, maxBucket), dropsFrom(prep, maxBucket))
  }

  /** Side output for [[probeLshIndex]]'s skew cap: the reference
    * buckets a `maxBucket` cap drops for THIS batch, with the candidate
    * volume lost — `(band_idx, band_hash, bucket_n, batch_n,
    * dropped_candidates = bucket_n × batch_n)` — so a 100 TB
    * incremental dedup can see (and alert on) what the cap discarded
    * instead of mistaking a recall cliff for a clean run. Standalone
    * diagnosis form; a capped probe should use
    * [[probeLshIndexObserved]] to share one preparation. */
  def probeLshOversizedBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, textCol: String, idCol: String,
      maxBucket: Int): DataFrame =
    dropsFrom(prepareProbe(spark, path, newDocs, textCol, idCol), maxBucket)

  private def probeFrom(prep: ProbePrep, idCol: String,
      threshold: Double, maxBucket: Int): DataFrame = {
    // the same skew guard lshCandidatePairs applies to its self-join: a
    // boilerplate-dominated reference bucket (k ref docs on one band
    // hash) would join every matching batch doc k-fold — the web-scale
    // degenerate case; the oversized set is computed on the already
    // bloom-pruned slice, so the extra agg is cheap. No cap → no
    // guard subtree at all (the default plan carries nothing for it).
    val screened =
      if (maxBucket == Int.MaxValue) prep.pruned
      else {
        val oversized = prep.pruned.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") > maxBucket)
          .select("band_idx", "band_hash")
        prep.pruned.join(broadcast(oversized),
          Seq("band_idx", "band_hash"), "left_anti")
      }
    val cand = screened
      .join(prep.nb.select(col("band_idx"), col("band_hash"), col(idCol).as("new_id")),
        Seq("band_idx", "band_hash"))
      .select(col(idCol).as("ref_id"), col("new_id"))
      .distinct()
    cand
      .join(prep.refSigs.select(col(idCol).as("ref_id"), col("signature").as("sig_r")),
        Seq("ref_id"))
      .join(prep.newSigs.select(col(idCol).as("new_id"), col("signature").as("sig_n")),
        Seq("new_id"))
      .select(col("new_id"), col("ref_id"),
        graft.functions.VectorFunctions
          .sig_match_frac(col("sig_n"), col("sig_r")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  private def dropsFrom(prep: ProbePrep, maxBucket: Int): DataFrame = {
    val refCounts = prep.pruned.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
    val batchCounts = prep.nb.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("batch_n"))
    refCounts.join(batchCounts, Seq("band_idx", "band_hash"))
      .select(col("band_idx"), col("band_hash"), col("bucket_n"),
        col("batch_n"), (col("bucket_n") * col("batch_n")).as("dropped_candidates"))
  }

  /** LSH candidate pairs: band the signature, bucket-join, emit a<b pairs
    * with the fraction of matching minhashes (the Jaccard estimate).
    *
    * Plan shape (the part that matters at 100 TB): the band self-join
    * carries ONLY `(band_idx, band_hash, id)` — never the numPerm×8-byte
    * signature. A pair that collides in k bands is materialized k times by
    * the join, so anything wider than an id through that shuffle is paid
    * k-fold; the ids are deduplicated to unique `(id_a, id_b)` pairs FIRST,
    * and only then is the signature joined back (once per side) to score
    * each unique pair exactly once.
    *
    * `maxBucket` caps degenerate buckets (boilerplate shingles at web
    * scale) — dropped buckets are the standard MinHashLSH skew guard.
    * The drop is a RECALL loss, not a correctness cap: pair it with
    * [[lshOversizedBuckets]] (same geometry) to quantify exactly what
    * was discarded. */
  /** Banded key grid shared by [[lshCandidatePairs]] and the persisted
    * index: one (band_idx, band_hash) row per signature band, the hash
    * folding the band's `rows` slice to 8 bytes. */
  /** Out-of-range band geometry would slice past the signature end,
    * hash the SAME empty array for every doc, and silently make every
    * pair an LSH candidate in those bands (the maxBucket cap then hides
    * the damage by dropping the degenerate buckets — a total recall
    * loss presenting as a clean run). Every entry point that knows
    * numPerm fails loudly instead. */
  private def requireBandGeometry(numPerm: Int, bands: Int, rows: Int): Unit =
    require(bands * rows <= numPerm,
      s"bands*rows = $bands*$rows = ${bands * rows} exceeds numPerm = $numPerm " +
        "— bands would hash empty signature slices and collide everything")

  private def bandKeys(sigs: DataFrame, idCol: String,
      bands: Int, rows: Int): DataFrame =
    sigs.select(
      col(idCol),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit("band"), lit(b), slice(col("signature"), b * rows + 1, rows))): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")

  /** Side output for [[lshCandidatePairs]]' skew cap: the buckets a
    * `maxBucket` cap drops, with the pair volume lost —
    * `(band_idx, band_hash, bucket_n, dropped_pairs = n·(n−1)/2)`.
    * Same geometry arguments as the pair scan; run it beside a capped
    * scan so the recall loss is a number in a report, not a silent
    * discard ([[probeLshOversizedBuckets]] is the probe-path twin).
    * An empty result proves the cap was a no-op for this corpus. */
  def lshOversizedBuckets(sigs: DataFrame, idCol: String,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 1000): DataFrame =
    bandKeys(sigs, idCol, bands, rows)
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band_idx"), col("band_hash"), col("bucket_n"),
        (col("bucket_n") * (col("bucket_n") - 1) / 2).cast("long").as("dropped_pairs"))

  def lshCandidatePairs(sigs: DataFrame, idCol: String,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val banded = bandKeys(sigs, idCol, bands, rows)
    // skew guard via aggregate + broadcast ANTI join, not a window: the
    // count aggregates map-side down to distinct bucket ids (vs window's
    // full shuffle+sort of every banded row), and the oversized-bucket
    // set is tiny (usually empty) so the anti join broadcasts
    val oversized = banded.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select("band_idx", "band_hash")
    val smallBuckets = banded.join(broadcast(oversized),
      Seq("band_idx", "band_hash"), "left_anti")
    val a = smallBuckets.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val b = smallBuckets.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // one signature lookup per side, one score per unique pair; the two
    // sig subtrees re-shuffle on id, which ReuseExchange shares with the
    // signature aggregation's own exchange
    pairs
      .join(sigs.select(col(idCol).as("id_a"), col("signature").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("signature").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.sig_match_frac(col("sig_a"), col("sig_b"))
          .as("est_jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banding → candidate
    * pairs above the estimated-similarity threshold. */
  def minHashNearDups(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numPerm: Int = 64, shingleN: Int = 3,
      bands: Int = 16, rows: Int = 4): DataFrame = {
    // deliberately persist-free: the signature subtree appears four times
    // in the candidate plan (band self-join sides + two scoring lookups),
    // but all four share the same exchanges — the band self-join reuses one
    // banded shuffle, and the scoring lookups reuse the window/agg shuffle
    // on the doc id — so the corpus is scanned and tokenized once, and no
    // cached blocks outlive the query (a long-lived session leaks nothing)
    requireBandGeometry(numPerm, bands, rows)
    val sigs = minHashSignatures(docs, textCol, idCol, numPerm, shingleN)
    lshCandidatePairs(sigs, idCol, bands, rows)
      .filter(col("est_jaccard") >= threshold)
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** SimHash bit width: 60, not 64 — the fingerprint is built from the
    * 60-bit cross-engine token hash ([[graft.text.TextAnalysis.h60]]),
    * which keeps every shift/sum overflow-free in both Spark ANSI mode
    * and DuckDB, making the whole SimHash family oracle-checkable. */
  val simHashBits = 60

  /** SimHash fingerprint: per-token h60 hash, bitwise majority vote.
    * Pure expression — for each bit position, sum ±1 over tokens and
    * take the sign. */
  def simHash(textCol: Column): Column =
    // one-pass native fingerprint ([[graft.functions.SimHash60]]): the
    // composed fold it replaces ran 60 interpreted aggregate passes per
    // row, each re-hashing every token (no subexpression elimination
    // across lambda boundaries) — 60 md5 walks of the document; values
    // bit-identical (stream == batch specs pin it against SimHashAgg)
    graft.functions.TextFunctions.simhash60(tokens(lower(textCol)))

  /** The wide fingerprint's two 60-bit halves as per-row Column
    * expressions — the streaming-side form of [[simHashWideTable]]
    * (same hash families: raw token and token||"#2"). */
  def simHashWideCols(textCol: Column): (Column, Column) = {
    val toks = tokens(lower(textCol))
    (graft.functions.TextFunctions.simhash60(toks),
      graft.functions.TextFunctions.simhash60(toks, "#2"))
  }

  /** Hamming distance between two fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Replace a plan with a materialized leaf: reliable checkpoint when
    * the session has a checkpoint dir (production clusters — survives
    * executor loss), local otherwise. Used wherever a subplan is
    * consumed more than once and Catalyst's ReuseExchange cannot see the
    * sharing (self-joins reference the subtree through fresh exprIds, so
    * the exchanges don't canonicalize equal and the subplan runs per
    * reference). */
  private def checkpointLeaf(df: DataFrame): DataFrame = {
    graft.plans.LeafPlanRegistry.record(df) // keep the scan auditable
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
  }

  /** SimHash as a table: explode tokens → 64 codegen'd ±1 sums with
    * map-side partial aggregation → assemble the fingerprint. Same result
    * as [[simHash]] but whole-stage-codegen throughout (the Column-level
    * fold evaluates interpreted lambdas 64× per row — fine for ad-hoc
    * expressions, wrong for a corpus pass). Docs with no tokens get
    * fingerprint 0, matching the fold's seed. */
  /** SimHash as a table: explode tokens → ONE native vote aggregate
    * ([[graft.functions.SimHashAgg]]: int[60] buffer, map-side partials)
    * → finished fingerprint as a plain column. Same result as [[simHash]]
    * — including on edge inputs: empty/token-less text → fingerprint 0
    * (the fold's seed), NULL text → NULL (so null-text docs never pair
    * in the near-dup join, exactly as the Column form behaves; a 0 here
    * would have made every null-text doc a hamming-0 "duplicate" of
    * every other) — but with a constant-size generated-code footprint:
    * the composed 60-sum + 60-term-assembly form spent more time in
    * plan compilation than in data. */
  def simHashTable(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("tok"))
      .withColumn("h", graft.text.TextAnalysis.h60(col("tok")))
    val computed = tok.groupBy(col(idCol))
      .agg(graft.functions.SimHashFunctions.simhash_agg(col("h"), simHashBits).as("simhash"))
    docs.select(col(idCol), col(textCol).isNull.as("_null_text"))
      .join(computed, Seq(idCol), "left_outer")
      .select(col(idCol), when(col("_null_text"), lit(null).cast("long"))
        .otherwise(coalesce(col("simhash"), lit(0L))).as("simhash"))
  }

  /** The 4×15-bit pigeonhole block grid shared by [[simHashNearDups]]
    * and [[dedupAgainstReference]]: one (block_idx, block_key) row per
    * fingerprint quarter. A pair within Hamming distance 3 shares at
    * least one unchanged quarter, so blocking on quarters is EXACT for
    * maxHamming ≤ 3. One definition — the two near-dup paths cannot
    * drift if the geometry ever changes. */
  private def simHashBlockKeys(fps: DataFrame, idCol: String): DataFrame =
    fps.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("simhash"), q * 15).bitwiseAND(0x7FFFL)): _*)))
      .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_key")

  /** Corpus-size-aware near-dup entry point — call THIS unless you have
    * a reason to pick a family by hand. Below `wideThreshold` documents
    * it runs the 60-bit [[simHashNearDups]] (higher recall on borderline
    * pairs: ≤ `maxHamming` of 60 bits); at or above it, the wide 120-bit
    * [[simHashWideNearDups]] (stricter criterion, and the only form
    * whose within-bucket scan stays linear at corpus scale — the 60-bit
    * form's fixed 2^15 buckets are a measured quadratic term past ~10^5
    * docs: 12.9-17.6× per 10× data at 500k, vs 6.2× wide).
    *
    * The default threshold is that measured crossover: at 10^5 docs the
    * 60-bit expected bucket population is ~3 (n/2^15) and the verify
    * scan is still linear-ish; by 5·10^5 the quadratic term dominates.
    * The two families share the (id_a, id_b, hamming) output contract,
    * but their PAIR SETS differ by design (120-bit Hamming ≤ 3 is
    * stricter than 60-bit ≤ 3), so the dispatch threshold is a semantic
    * knob, not just a perf one: a corpus growing past `wideThreshold`
    * CHANGES the produced pair set between runs. Reproducibility-
    * sensitive pipelines should pin `family = Narrow60 | Wide120`
    * explicitly ([[NearDupFamily]]) — `Auto` is for exploratory use,
    * and logs which family it chose (and on what count) so the
    * discontinuity is visible in the run log, never silent.
    *
    * Sizing under `Auto` costs nothing when avoidable: `corpusSize`
    * (a catalog count, a manifest) wins, then the optimized plan's own
    * row-count statistic when Catalyst knows it (a LocalRelation, a
    * CBO-analyzed table — no job at all), and only then a `count()`
    * job (metadata-cheap on parquet, a real pass on computed inputs). */
  def nearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, corpusSize: Option[Long] = None,
      wideThreshold: Long = 100000L,
      family: NearDupFamily = NearDupFamily.Auto): DataFrame = family match {
    case NearDupFamily.Narrow60 =>
      simHashNearDups(docs, textCol, idCol, maxHamming)
    case NearDupFamily.Wide120 =>
      simHashWideNearDups(docs, textCol, idCol, maxHamming)
    case NearDupFamily.Auto =>
      val (n, how) = corpusSize.map((_, "caller-supplied"))
        .orElse(docs.queryExecution.optimizedPlan.stats.rowCount
          .map(c => (c.toLong, "plan statistics")))
        .getOrElse((docs.count(), "count() job"))
      val chosen = if (n < wideThreshold) "Narrow60" else "Wide120"
      System.err.println(s"[nearDups] corpus ≈ $n docs ($how) → $chosen " +
        s"family (wideThreshold=$wideThreshold; pair-set semantics differ " +
        "between families — pin `family` for reproducibility)")
      if (n < wideThreshold) simHashNearDups(docs, textCol, idCol, maxHamming)
      else simHashWideNearDups(docs, textCol, idCol, maxHamming)
  }

  /** SimHash near-dup pairs: block on the 4×15-bit fingerprint quarters
    * (a pair within Hamming distance 3 shares at least one quarter
    * unchanged — the classic pigeonhole blocking, EXACT for
    * `maxHamming ≤ 3`), then verify the full distance.
    *
    * SCALE NOTE: prefer [[nearDups]] (the size-aware dispatcher) as the
    * entry point — this 60-bit form's fixed 2^15-bucket grid goes
    * quadratic past ~10^5 documents; [[simHashWideNearDups]] is the
    * corpus-scale family. */
  def simHashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, leafFingerprints: Boolean = false): DataFrame = {
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    // Same plan discipline as [[lshCandidatePairs]] with one difference:
    // a SimHash fingerprint is a single long — the same width as the id —
    // so the hamming verify needs NO join-back (unlike q53's
    // numPerm×8-byte signatures, which force candidate dedup before the
    // signature lookup). That makes verify-BEFORE-distinct the right
    // order here: hamming is two codegen'd instructions (xor+popcount),
    // so evaluating it per materialized copy (a pair sharing q quarters
    // appears q ≤ 4 times) costs ~nothing, while it shrinks the
    // distinct's shuffle from EVERY blocked pair — the quadratic term,
    // including all hot-bucket pairs — to just the near-dup survivors.
    // Measured at sf10 (500k docs): q101 229.5 s → see BASELINE r12
    // with the verify hoisted. Persist-free — no cached blocks outlive
    // the query.
    // quarter keys derive from the fingerprint attribute with four small
    // shift/mask expressions — cheap for CollapseProject to inline, since
    // the fingerprint itself is one aggregate output column, not a tree
    //
    // The fingerprint pipeline is evaluated once per join side:
    // ReuseExchange does not fire across the aliased self-join
    // projections (verified — 0 ReusedExchange, 2× the vote aggregate
    // under AQE too), and measured at sf0.1 the double evaluation is
    // CHEAPER than checkpointing the table first (2.1 s vs 2.5 s warm:
    // both sides pipeline in parallel, the checkpoint serializes).
    // Cache-hygiene policy (CacheHygieneSpec) also wants one-shot
    // queries persist-free. When fingerprints are worth materializing —
    // a corpus you dedup repeatedly — that's the persisted-index path
    // (saveLshIndex / q119), not an inline cache.
    //
    // `leafFingerprints` offers the corpus-scale tradeoff explicitly.
    // Measured results differ by fingerprint cost: the WIDE form's
    // two-hash pipeline wins from leafing (31.6 s → 20.4 s at 500k
    // docs), but THIS 60-bit form measured NO win there (56.8 s
    // re-evaluated vs 55.4 s leafed) — with 32 threads the duplicated
    // single-hash pipeline executes in otherwise-idle slots, so the
    // queries keep the default. The knob stays for CPU-constrained
    // deployments where duplicated work is not free.
    val fps0 = simHashTable(docs, textCol, idCol)
    val fps = if (leafFingerprints) checkpointLeaf(fps0) else fps0
    simHashNearDupsFromFps(fps, idCol, maxHamming)
  }

  /** [[simHashNearDups]] over a PRECOMPUTED fingerprint table
    * (`(idCol, simhash)` — [[simHashTable]]'s contract): the standing-
    * state form, pairing a stored fingerprint table without re-running
    * the tokenize→vote pipeline. Same blocking, same
    * verify-before-distinct order, same output contract. */
  def simHashNearDupsFromFps(fps: DataFrame, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val blocked = simHashBlockKeys(fps, idCol)
    val a = blocked.select(col("block_idx"), col("block_key"),
      col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = blocked.select(col("block_idx"), col("block_key"),
      col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("block_idx", "block_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Wide (120-bit) SimHash: two independent 60-bit vote fingerprints —
    * the second from the token stream hashed with a domain-separation
    * suffix — concatenated conceptually into one 120-bit fingerprint
    * `(hi, lo)`. NULL text → NULL halves; token-less docs → (0, 0),
    * mirroring [[simHashTable]]'s edge semantics. */
  def simHashWideTable(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("tok"))
      .withColumn("h_lo", graft.text.TextAnalysis.h60(col("tok")))
      // domain separation: a constant suffix gives an independent hash
      // family from the SAME md5 machinery the oracle can replay
      .withColumn("h_hi", graft.text.TextAnalysis.h60(concat(col("tok"), lit("#2"))))
    val computed = tok.groupBy(col(idCol))
      .agg(graft.functions.SimHashFunctions.simhash_agg(col("h_lo"), simHashBits).as("sh_lo"),
        graft.functions.SimHashFunctions.simhash_agg(col("h_hi"), simHashBits).as("sh_hi"))
    docs.select(col(idCol), col(textCol).isNull.as("_null_text"))
      .join(computed, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("_null_text"), lit(null).cast("long"))
          .otherwise(coalesce(col("sh_lo"), lit(0L))).as("sh_lo"),
        when(col("_null_text"), lit(null).cast("long"))
          .otherwise(coalesce(col("sh_hi"), lit(0L))).as("sh_hi"))
  }

  /** The wide fingerprint's 4×30-bit pigeonhole block grid, shared by
    * [[simHashWideNearDups]] and [[dedupAgainstReferenceWide]] — one
    * (block_idx, block_key) row per 30-bit quarter of the 120-bit
    * fingerprint. A pair within Hamming distance 3 shares at least one
    * unchanged quarter, so blocking is EXACT for maxHamming ≤ 3. One
    * definition — the two wide near-dup paths cannot drift. */
  /** The four 30-bit quarter keys of the 120-bit fingerprint, in
    * quarter order — THE single definition of the wide block geometry,
    * consumed by the batch paths here and the streaming twin
    * ([[graft.streaming.EventsStream.nearDupWideStream]]); a geometry
    * change propagates to every consumer or compiles nowhere. */
  def simHashWideQuarterKeys(lo: Column, hi: Column): Seq[Column] = {
    val mask30 = lit((1L << 30) - 1)
    Seq(lo.bitwiseAND(mask30), shiftright(lo, 30).bitwiseAND(mask30),
      hi.bitwiseAND(mask30), shiftright(hi, 30).bitwiseAND(mask30))
  }

  /** Passes through EVERY fps column (the sharded form rides its
    * `_shard` tag through here); plain callers hand in exactly
    * (id, sh_lo, sh_hi). */
  private def simHashWideBlockKeys(fps: DataFrame, idCol: String): DataFrame =
    fps.select(col("*"),
      posexplode(array(simHashWideQuarterKeys(col("sh_lo"), col("sh_hi")): _*)))
      .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_key")

  /** Wide SimHash near-dup pairs — the CORPUS-SCALE form of
    * [[simHashNearDups]]. Same exact pigeonhole guarantee (a pair within
    * Hamming distance 3 of the 120-bit fingerprint leaves at least one
    * of 4 blocks unchanged), but the blocks are 30-bit (2×15-bit halves
    * per 60-bit word): bucket space grows from 2^15 to 2^30, so expected
    * bucket population — and with it the quadratic within-bucket
    * candidate scan that makes the 60-bit form superlinear past ~10^5
    * docs (measured: q101's machinery at 12.9-17.6× for 10× data at
    * 500k docs) — stays O(n/2^30), i.e. collision-free until the corpus
    * approaches a BILLION documents per shard. The price is semantic:
    * ≤3 flipped bits of 120 is a stricter near-dup criterion than ≤3 of
    * 60 (recall drops for borderline pairs; precision rises), which is
    * why this is a separate operator, not a swap — at 100 TB the wide
    * form is the one to run. */
  def simHashWideNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    // leaf the fingerprint table: the self-join below plans the whole
    // tokenize→md5→vote pipeline once PER SIDE (fresh exprIds defeat
    // ReuseExchange — same verified behavior as the 60-bit form). q55
    // measured the double evaluation cheaper than a checkpoint at
    // sf0.1; at corpus scale that reverses — the pipeline is the
    // dominant cost and the checkpoint is 3 longs per doc (~24 MB per
    // million docs), so the wide form pays the bounded materialization
    // and halves the heavy work. Measured at 500k docs: 31.6 s
    // (re-evaluated) vs 20.4 s (leafed); the 60-bit q55 at the same
    // scale: 33.4 s — a 12.1× decade ratio vs this form's 6.2×.
    // checkpointLeaf, not raw localCheckpoint: on a cluster with a
    // checkpoint dir the leaf survives executor loss
    val fps = checkpointLeaf(simHashWideTable(docs, textCol, idCol))
    val blocked = simHashWideBlockKeys(fps, idCol)
    val a = blocked.select(col("block_idx"), col("block_key"),
      col(idCol).as("id_a"), col("sh_lo").as("lo_a"), col("sh_hi").as("hi_a"))
    val b = blocked.select(col("block_idx"), col("block_key"),
      col(idCol).as("id_b"), col("sh_lo").as("lo_b"), col("sh_hi").as("hi_b"))
    a.join(b, Seq("block_idx", "block_key"))
      .filter(col("id_a") < col("id_b"))
      // verify before distinct — same reasoning as [[simHashNearDups]]:
      // the two-word hamming is four codegen'd instructions per
      // materialized copy, and hoisting it above the distinct cuts that
      // shuffle to the near-dup survivors instead of every blocked pair
      .select(col("id_a"), col("id_b"),
        (hamming(col("lo_a"), col("lo_b")) +
          hamming(col("hi_a"), col("hi_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Shard-then-merge wide near-dup — the form for corpora past the
    * single-join comfort range of [[simHashWideNearDups]] (its 30-bit
    * buckets stay ~collision-free to ~10^9 docs per join input; a
    * 100 TB corpus is bigger). Docs are sharded by a DETERMINISTIC id
    * hash; each of the S within-shard passes and S(S−1)/2 cross-shard
    * boundary passes joins two ≤(n/S)-doc block tables on the same
    * 30-bit quarter keys, so every single join's shuffle and per-bucket
    * population is bounded by the SHARD size, never the corpus — the
    * job-size discipline that lets 10^10 docs run as a sequence of
    * 10^9-doc joins instead of one unbounded one.
    *
    * CONTRACT: the union of all passes enumerates exactly the pairs of
    * the unsharded form — within(i) ∪ cross(i,j) partitions "shares a
    * quarter key" over doc pairs, so the result is IDENTICAL (spec'd on
    * a multi-shard corpus), sharding moves job geometry only.
    * Fingerprints are computed ONCE (one checkpoint leaf, reused by
    * every pass); cross passes normalize pair order with least/greatest
    * since id order and shard order are independent. `shards` is meant
    * to be ceil(corpus/10^9) — small; the pass list is quadratic in it,
    * and a real deployment would materialize the leaf once and run the
    * passes as separate jobs off it (the leaf IS that artifact). */
  def simHashWideNearDupsSharded(docs: DataFrame, textCol: String,
      idCol: String, shards: Int, maxHamming: Int = 3): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val fps = checkpointLeaf(simHashWideTable(docs, textCol, idCol)
      .withColumn("_shard",
        pmod(xxhash64(col(idCol).cast("string")), lit(shards.toLong)).cast("int")))
    val blocked = simHashWideBlockKeys(fps, idCol)
    def sideFor(suffix: String, shard: Int) = blocked
      .filter(col("_shard") === shard)
      .select(col("block_idx"), col("block_key"),
        col(idCol).as(s"id_$suffix"),
        col("sh_lo").as(s"lo_$suffix"), col("sh_hi").as(s"hi_$suffix"))
    val passes = for { i <- 0 until shards; j <- i until shards } yield {
      val joined = sideFor("a", i).join(sideFor("b", j),
        Seq("block_idx", "block_key"))
      val ordered =
        if (i == j) joined.filter(col("id_a") < col("id_b"))
        else joined.select(
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          // hamming is symmetric — the half columns need no swap
          col("lo_a"), col("hi_a"), col("lo_b"), col("hi_b"),
          col("block_idx"), col("block_key"))
      ordered.select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
    }
    passes.reduce(_ unionByName _)
      // verify before distinct (see [[simHashNearDups]]): hamming is
      // symmetric, so the cross passes' unswapped half columns still
      // score identically for every materialization of a pair, and the
      // distinct — the one corpus-bounded shuffle the sharding cannot
      // shrink — now carries only the near-dup survivors
      .select(col("id_a"), col("id_b"),
        (hamming(col("lo_a"), col("lo_b")) +
          hamming(col("hi_a"), col("hi_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental dedup against a reference corpus with the WIDE
    * fingerprint — the production "probe this batch against the full
    * 100 TB corpus" form of [[dedupAgainstReference]]. Identical output
    * contract (exact_dup / near_dup / min_ref_hamming per new doc) under
    * the stricter ≤ maxHamming of 120 bits; the new×ref block join runs
    * on 30-bit buckets, so the candidate count scales with TRUE
    * near-dup density instead of n_new·n_ref/2^15. The reference is
    * never self-joined. */
  def dedupAgainstReferenceWide(newDocs: DataFrame, refDocs: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val exact = newDocs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .join(refDocs.select(fingerprint(col(textCol)).as("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col(idCol)).withColumn("_exact", lit(1))
    val nB = simHashWideBlockKeys(
        simHashWideTable(newDocs, textCol, idCol), idCol)
      .select(col("block_idx"), col("block_key"), col(idCol).as("id_new"),
        col("sh_lo").as("lo_new"), col("sh_hi").as("hi_new"))
    val rB = simHashWideBlockKeys(
        simHashWideTable(refDocs, textCol, idCol), idCol)
      .select(col("block_idx"), col("block_key"),
        col("sh_lo").as("lo_ref"), col("sh_hi").as("hi_ref"))
    // NO candidate distinct at all: min() is duplicate-insensitive, so
    // a pair materialized once per shared block changes nothing — the
    // hamming verify runs per copy (four instructions) and the only
    // shuffle left on this path is the per-doc min aggregate, which
    // map-side combines down to one row per new doc before moving
    val near = nB.join(rB, Seq("block_idx", "block_key"))
      .select(col("id_new"),
        (hamming(col("lo_new"), col("lo_ref")) +
          hamming(col("hi_new"), col("hi_ref"))).as("h"))
      .filter(col("h") <= maxHamming)
      .groupBy(col("id_new")).agg(min(col("h")).as("min_ref_hamming"))
      .withColumnRenamed("id_new", idCol)
    newDocs.select(col(idCol))
      .join(exact, Seq(idCol), "left_outer")
      .join(near, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("_exact"), lit(0)).cast("int").as("exact_dup"),
        when(col("min_ref_hamming").isNotNull, lit(1)).otherwise(lit(0))
          .cast("int").as("near_dup"),
        col("min_ref_hamming").cast("int").as("min_ref_hamming"))
  }

  // ---------------------------------------------------------------------
  // Eval-set decontamination
  // ---------------------------------------------------------------------

  /** Training/eval cross-contamination check (the GPT-3/Pile-style
    * n-gram decontamination pass): flag every corpus document sharing at
    * least one word `n`-gram with the eval set.
    *
    * Scale shape: eval sets are small against a 100 TB corpus, so the
    * distinct eval-gram hash set BROADCASTS; the corpus side is one
    * explode + map-side h60 hash + broadcast-hash join — the only
    * shuffle is the final per-doc hit count. Grams are compared through
    * the 60-bit cross-engine hash, so the result is oracle-checkable. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, textCol: String,
      idCol: String, n: Int = 8): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select((cols :+
        explode(distinctWordShingles(col(textCol), n)).as("g")): _*)
    val evalGrams = broadcast(
      grams(evalDocs).select(graft.text.TextAnalysis.h60(col("g")).as("gh"))
        .distinct())
    val hits = grams(docs, col(idCol))
      .select(col(idCol), graft.text.TextAnalysis.h60(col("g")).as("gh"))
      .join(evalGrams, Seq("gh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_eval_ngram_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Incremental dedup against a reference corpus: flag NEW documents
    * that exactly or nearly duplicate the standing corpus — the daily
    * production shape (dedupe today's crawl against the full history)
    * where the reference is orders of magnitude larger than the batch
    * and must NEVER be self-joined.
    *
    * Exact: fingerprint left-semi join against the reference's distinct
    * fingerprints. Near: simhash on both sides, 4×15-bit pigeonhole
    * blocks joined new×ref ONLY (exact for `maxHamming ≤ 3`, like
    * [[simHashNearDups]]), the Hamming verify run per blocked copy
    * (the per-new-doc `min` absorbs duplicates, so no candidate
    * distinct — and no shuffle — is needed at all), then the minimum
    * qualifying distance. Both
    * passes shuffle 8-byte hashes, never text, and the reference side's
    * cost is one fingerprint/simhash pass — no ref×ref pair space.
    *
    * Output per new doc: `(id, exact_dup, near_dup, min_ref_hamming)`
    * with `min_ref_hamming` null when no reference doc is within
    * `maxHamming` (blocked pairs beyond the threshold are by
    * construction incomplete, so the uncapped minimum is unknowable —
    * and uninteresting). */
  def dedupAgainstReference(newDocs: DataFrame, refDocs: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val exact = newDocs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .join(refDocs.select(fingerprint(col(textCol)).as("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col(idCol)).withColumn("_exact", lit(1))
    def blockKeys(fps: DataFrame): DataFrame = simHashBlockKeys(fps, idCol)
    val nB = blockKeys(simHashTable(newDocs, textCol, idCol))
      .select(col("block_idx"), col("block_key"),
        col(idCol).as("id_new"), col("simhash").as("sh_new"))
    val rB = blockKeys(simHashTable(refDocs, textCol, idCol))
      .select(col("block_idx"), col("block_key"), col("simhash").as("sh_ref"))
    // no candidate distinct — same argument as [[dedupAgainstReferenceWide]]:
    // the min aggregate absorbs per-block duplicate materializations
    val near = nB.join(rB, Seq("block_idx", "block_key"))
      .select(col("id_new"), hamming(col("sh_new"), col("sh_ref")).as("h"))
      .filter(col("h") <= maxHamming)
      .groupBy(col("id_new")).agg(min(col("h")).as("min_ref_hamming"))
      .withColumnRenamed("id_new", idCol)
    newDocs.select(col(idCol))
      .join(exact, Seq(idCol), "left_outer")
      .join(near, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("_exact"), lit(0)).cast("int").as("exact_dup"),
        when(col("min_ref_hamming").isNotNull, lit(1)).otherwise(lit(0))
          .cast("int").as("near_dup"),
        col("min_ref_hamming").cast("int").as("min_ref_hamming"))
  }

  /** Sentence-level exact dedup (C4-style boilerplate removal): across
    * the WHOLE corpus, only the first occurrence of each distinct
    * sentence survives — repeated navigation chrome, disclaimers, and
    * licence blocks vanish even when their host documents differ — and
    * each document is reassembled from its surviving sentences in
    * original order.
    *
    * "First occurrence" is `row_number() = 1` over the fingerprint
    * partition ordered by `(doc_id, pos)` — exact for ANY id/position
    * magnitudes (an encoded `doc_id·K + pos` key would silently collide
    * or overflow past its bounds), on the window shuffle the selection
    * needs anyway. One pass over the exploded sentences end-to-end: the
    * survivor flag and the reassembly are a single window + a single
    * conditional per-document aggregation (no self-join, no second scan
    * of the corpus for the sentence count — it rides the explode).
    * Sentence text crosses exactly two shuffles: the fingerprint
    * partition and the per-document reassembly, each bounded by its own
    * row. Sentence split is `'. '` (RE2-safe in both engines; rejoining
    * with the same separator is normalization-faithful). */
  /** Shared sentence grid of [[sentenceDedup]] and
    * [[scrubEvalSentences]]: `'. '` split, 0-based pos, per-doc
    * sentence count riding each row, null text emits nothing. */
  private def explodeSentences(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = docs
    .where(col(textCol).isNotNull) // null text: no sentences, no row
    .select(col(idCol), split(trim(col(textCol)), "\\. ").as("_parts"))
    .select(col(idCol), size(col("_parts")).as("n_sentences"),
      posexplode(col("_parts")))
    .withColumnRenamed("col", "s")

  def sentenceDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sen = explodeSentences(docs, textCol, idCol)
    val flagged = sen.withColumn("rn",
      row_number().over(Window.partitionBy(md5(col("s")))
        .orderBy(col(idCol), col("pos"))))
    flagged.groupBy(col(idCol))
      .agg(first(col("n_sentences")).as("n_sentences"),
        count(when(col("rn") === 1, lit(1))).as("n_kept"),
        concat_ws(". ", transform(
          array_sort(collect_list(when(col("rn") === 1, struct(col("pos"), col("s"))))),
          x => x.getField("s"))).as("clean_text"))
      .select(col(idCol), col("n_sentences").cast("long").as("n_sentences"),
        col("n_kept"), col("clean_text"))
  }

  /** Exact-substring duplicate spans — the token-window form of corpus
    * dedup (the "remove any 50-token substring that appears twice"
    * pass, reference behavior of suffix-array dedup pipelines): every
    * `n`-token window is rolling-hashed; a window whose hash already
    * occurred earlier in the corpus (global (doc, pos) order — the
    * FIRST occurrence survives, like [[exactDedup]]'s min-id survivor)
    * marks its `n` tokens as duplicated; overlapping/adjacent marked
    * windows merge into maximal spans. Output: one row per maximal
    * duplicated span `(doc_id, span_start, span_end, span_tokens)` in
    * token coordinates — the excision plan a rewrite pass consumes.
    *
    * Scale shape: the gram stream carries `(doc_id, pos, h60)` — 8-byte
    * hashes, never text. One shuffle ranks occurrences per hash (window
    * sort; a boilerplate gram with millions of occurrences costs its
    * partition a bigger sort, not a row explosion), one per-doc window
    * merges spans over the surviving duplicate starts (small: duplicated
    * positions only). Suffix arrays find variable-length repeats; the
    * fixed-`n` window form is the standard scale approximation — any
    * repeat of length ≥ n is found (as a run of overlapping windows
    * merging into one span), shorter repeats are ignored by design. */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    require(n > 1, "span window must cover more than one token")
    // native positioned n-grams: the composed wordShingles form pays an
    // interpreted lambda per gram (measured ~50× slower on corpus
    // passes — the q43 lesson); word_ngrams stays in codegen and its
    // posexplode position IS the token start index
    val grams = docs
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextFunctions.word_ngrams(
          graft.text.TextAnalysis.tokens(col(textCol)), n)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        graft.text.TextAnalysis.h60(col("col")).as("gh"))
    // occurrence rank in global corpus order; rank 1 = the survivor
    val dupStarts = grams
      .withColumn("occ", row_number().over(
        Window.partitionBy("gh").orderBy("doc_id", "pos")))
      .filter(col("occ") > 1)
      .select("doc_id", "pos")
    // merge overlapping/adjacent [pos, pos+n) windows per doc: a start
    // past every previous window's end opens a new island (running max
    // handles nested/out-of-order ends)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dupStarts
      .withColumn("prev_end", max(col("pos") + n).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island", sum(
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L)).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"), (max("pos") + n).as("span_end"))
    spans.select(col("doc_id"), col("span_start"), col("span_end"),
      (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Multi-scale duplicate spans — the long-match ladder over
    * [[duplicateSpans]]'s fixed window (the Lee et al.
    * deduplicate-text-datasets shape without a suffix array: arbitrary-
    * length matches fall out of doubling window scales instead of
    * LCP intervals). Two gaps in the fixed form this closes:
    *
    *  - NEAR-clones fragment: a 200-token duplicate with sparse point
    *    edits breaks every window crossing an edit, so the n=10 form
    *    emits islands split by one-token gaps at each edit (spec'd).
    *    Here each scale's island merge tolerates gaps ≤ its own window
    *    (edits rarer than one per window don't break the span), so the
    *    clone excises WHOLE — the excised span may include the edited
    *    tokens between duplicated runs, the deliberate recall-over-
    *    precision trade of gap bridging.
    *  - No length evidence: a 10-token boilerplate match and a 200-token
    *    clone are indistinguishable. `max_scale` labels each merged span
    *    with the largest scale contributing an island to it — an exact
    *    160-token window match is qualitatively different evidence, and
    *    pipelines excise at `max_scale >= threshold` instead of paying a
    *    suffix array.
    *
    * One pass per scale (positioned grams are hashes-only, the q128
    * shape); per-scale islands union and merge across scales by plain
    * overlap. Deterministic total ordering everywhere (the cross-scale
    * merge orders by (start, end, scale)); q181 replays the whole
    * ladder in DuckDB. */
  def duplicateSpansLadder(docs: DataFrame, textCol: String, idCol: String,
      scales: Seq[Int] = Seq(10, 20, 40, 80, 160)): DataFrame = {
    require(scales.nonEmpty && scales == scales.sorted &&
      scales.head > 1 && scales.distinct == scales,
      s"scales=$scales must be ascending, distinct, all > 1")
    val perScale = scales.map { n =>
      val grams = docs
        .select(col(idCol).as("doc_id"),
          posexplode(graft.functions.TextFunctions.word_ngrams(
            graft.text.TextAnalysis.tokens(col(textCol)), n)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          graft.text.TextAnalysis.h60(col("col")).as("gh"))
      val dupStarts = grams
        .withColumn("occ", row_number().over(
          Window.partitionBy("gh").orderBy("doc_id", "pos")))
        .filter(col("occ") > 1)
        .select("doc_id", "pos")
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      dupStarts
        .withColumn("prev_end", max(col("pos") + n).over(
          wDoc.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("island", sum(
          when(col("prev_end").isNull || col("pos") > col("prev_end") + n, 1L)
            .otherwise(0L)).over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "island")
        .agg(min("pos").as("s"), (max("pos") + n).as("e"))
        .select(col("doc_id"), col("s"), col("e"), lit(n).as("scale"))
    }
    val all = perScale.reduce(_ unionByName _)
    val w = Window.partitionBy("doc_id").orderBy("s", "e", "scale")
    all
      .withColumn("prev_end", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island", sum(
        when(col("prev_end").isNull || col("s") > col("prev_end"), 1L)
          .otherwise(0L)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("s").as("span_start"), max("e").as("span_end"),
        max("scale").as("max_scale"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("max_scale").cast("int").as("max_scale"))
  }

  /** Surgical decontamination: instead of flagging whole documents
    * ([[decontaminate]]), excise only the SENTENCES that share a word
    * n-gram with the eval set and reassemble the rest — the form that
    * actually ships, since dropping a whole crawl page for one quoted
    * benchmark question wastes the page.
    *
    * Scale shape: sentence→gram explosion carries only `(doc_id, pos,
    * gh)` (8-byte hashes, never sentence text); the overlap probe is a
    * broadcast semi join against the distinct eval-gram hashes; the
    * contaminated `(doc_id, pos)` set — small, contamination is the
    * exception — broadcasts into a left-anti join back onto the
    * sentence stream, so sentence text crosses exactly one shuffle (the
    * per-document reassembly). Sentences shorter than `n` tokens carry
    * no gram and are always clean. */
  def scrubEvalSentences(docs: DataFrame, evalDocs: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame = {
    // `sen` is deliberately NOT materialized although both the probe and
    // the reassembly read it: the re-evaluation is a second map-only
    // scan+split of the corpus, which at scale is cheaper than spilling
    // every sentence's text to checkpoint storage between the two uses
    val sen = explodeSentences(docs, textCol, idCol)
    val evalGrams = broadcast(
      evalDocs.select(explode(distinctWordShingles(col(textCol), n)).as("g"))
        .select(graft.text.TextAnalysis.h60(col("g")).as("gh")).distinct())
    val contaminated = sen
      .select(col(idCol), col("pos"),
        explode(distinctWordShingles(col("s"), n)).as("g"))
      .select(col(idCol), col("pos"),
        graft.text.TextAnalysis.h60(col("g")).as("gh"))
      .join(evalGrams, Seq("gh"), "left_semi")
      .select(col(idCol), col("pos")).distinct()
    // left-outer flag + conditional aggregation, NOT an anti join: a
    // fully-contaminated document must come out with n_clean = 0 and
    // empty text, not silently disappear. No broadcast() hint on the
    // dirty set — it scales with corpus_sentences x contamination_rate,
    // not with the eval set, so forcing it driver-side is an unbounded
    // broadcast; AQE still broadcasts it at runtime when it IS small
    sen.join(contaminated.withColumn("_dirty", lit(1)),
        Seq(idCol, "pos"), "left_outer")
      .groupBy(col(idCol))
      .agg(first(col("n_sentences")).as("n_sentences"),
        count(when(col("_dirty").isNull, lit(1))).as("n_clean"),
        concat_ws(". ", transform(
          array_sort(collect_list(
            when(col("_dirty").isNull, struct(col("pos"), col("s"))))),
          x => x.getField("s"))).as("clean_text"))
      .select(col(idCol), col("n_sentences").cast("long").as("n_sentences"),
        col("n_clean"), col("clean_text"))
  }

  /** Decontamination with a bloom pre-filter: identical results to
    * [[decontaminate]], different scale shape. There the distinct
    * eval-gram hash set is broadcast whole; here the corpus side is
    * first pruned by a ~MB bloom of the eval grams
    * ([[graft.ops.Extended.bloomSemiJoin]]), so when the eval set is too
    * large to broadcast comfortably (a full benchmark suite × n-gram
    * explosion), the exact join only ever sees the tiny bloom-surviving
    * fraction of the corpus grams. Exactness is preserved by the
    * confirming join — the oracle is the same SQL as the broadcast
    * form's. */
  def decontaminateBloom(docs: DataFrame, evalDocs: DataFrame, textCol: String,
      idCol: String, n: Int = 8, expectedGrams: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select((cols :+
        explode(distinctWordShingles(col(textCol), n)).as("g")): _*)
        .withColumn("gh", graft.text.TextAnalysis.h60(col("g")))
    val evalGrams = grams(evalDocs).select("gh").distinct()
    val hits = graft.ops.Extended.bloomSemiJoin(
      grams(docs, col(idCol)).select(col(idCol), col("gh")), "gh",
      evalGrams, "gh", expectedGrams, fpp, keysDistinct = true)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_eval_ngram_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  // ---------------------------------------------------------------------
  // Exact n-gram Jaccard
  // ---------------------------------------------------------------------

  /** Shared shingle-inverted-index scaffolding for the pairwise set
    * metrics ([[ngramJaccardPairs]], [[containmentPairs]]): explode to
    * (id, distinct-shingle) rows, per-doc set sizes, and the
    * ordered-pair intersection counts joined with both sizes —
    * `(id_a, id_b, n_inter, size_a, size_b)`. One definition so a
    * shingle-handling change (degenerate-shingle caps, tokenization)
    * can never silently diverge between the metrics. */
  private def shinglePairCounts(docs: DataFrame, textCol: String,
      idCol: String, shingleN: Int): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(distinctWordShingles(col(textCol), shingleN)).as("shingle"))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("set_size"))
    sh.select(col(idCol).as("id_a"), col("shingle"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("set_size").as("size_a")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("set_size").as("size_b")),
        Seq("id_b"))
  }

  /** Exact pairwise Jaccard over distinct word-shingle sets, via a
    * shingle-inverted-index join (pairs that share no shingle are never
    * materialized). O(sum over shingles of df²) — use on a candidate
    * subset or post-LSH, not the raw corpus. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.0): DataFrame = {
    shinglePairCounts(docs, textCol, idCol, shingleN)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("size_a") + col("size_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric containment pairs (the second Broder resemblance
    * metric): `C(A,B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|` —
    * the signal symmetric Jaccard cannot see. A TRUNCATED or
    * quoted-subset document (crawl pagination fragments, AMP page
    * copies, quote-reply chains) sits almost entirely inside its source
    * (`C ≈ 1`) while the size mismatch dilutes its Jaccard below any
    * near-dup threshold. Emits ordered `(sub_id, sup_id, containment)`
    * rows where sub's shingle set lies inside sup's at ≥ `threshold`.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]] — shuffles
    * carry (id, shingle) and (id, id, count) rows, never documents —
    * and each unordered intersection feeds BOTH ordered directions, so
    * the pair scan runs once. Like all shingle-equality self-joins,
    * cap or pre-filter degenerate shingles on a skewed corpus. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.9): DataFrame = {
    // the union below consumes this subtree twice (one projection per
    // direction) through fresh exprIds — leaf it or the whole shingle
    // join pipeline runs per branch. Pair-count-sized, never corpus-sized
    val both = graft.plans.LeafPlanRegistry.record(
        shinglePairCounts(docs, textCol, idCol, shingleN))
      .localCheckpoint()
    both.select(col("id_a").as("sub_id"), col("id_b").as("sup_id"),
        (col("n_inter").cast("double") / col("size_a")).as("containment"))
      .union(both.select(col("id_b").as("sub_id"), col("id_a").as("sup_id"),
        (col("n_inter").cast("double") / col("size_b")).as("containment")))
      .filter(col("containment") >= threshold)
  }

  // ---------------------------------------------------------------------
  // Connected components — pair list → dedup clusters
  // ---------------------------------------------------------------------

  // Per-round shape of the distributed loop ([[componentsLoop]]), at the
  // measured knees (see the in-loop notes): pointer jumps and neighbor-min
  // edge-hops per materialized generation, and the vertex count up to
  // which the label table is broadcast ((long, long) rows, ~25 B each →
  // ~100 MB). Hops must stay >= 1: zero hops would converge on the
  // pointer-jump fixpoint without ever propagating labels across an edge.
  private val CcJumpsPerRound = 2
  private val CcHopsPerRound = 1
  private val CcBroadcastMaxVertices = 4000000L
  // The edge rows (both directions and the self-loops) up to which
  // [[connectedComponents]] labels on the driver. Measured on a 4-core
  // host, local[4], warm JVM, clusters of 2–6 ids, edge checkpoint and
  // result collect included: at 4k / 64k / 256k / 1M edge rows the driver
  // path took 0.12 / 0.25–0.28 / 0.46–0.73 / 1.5–2.0 s and the loop
  // 0.65–0.99 / 0.92–0.98 / 1.41–1.67 / 3.2–4.3 s, so the crossover lies
  // above 1M. The budget is set far below it by the local relation the
  // driver path returns, shipped in every task that scans it: 64k edge
  // rows are at most 64k vertices, about 4 MB of rows.
  private[graft] val CcDriverMaxEdges = 1L << 16

  /** Connected components over a near-dup pair list: the step every real
    * dedup pipeline runs AFTER pair generation — duplicates are
    * transitive in practice (A≈B, B≈C ⇒ drop two of three), so pairs
    * must become clusters with one surviving representative.
    *
    * One eager checkpoint job builds the symmetric edge list (both
    * directions and a self-loop per id) and observes its row count and
    * the null ids of each column; a null id fails, naming its column.
    * Then one of two paths labels every vertex with its component's
    * minimum id:
    *
    *  - At or below [[CcDriverMaxEdges]] edge rows the driver collects
    *    the edges once and runs min-label union-find; the result is a
    *    local relation (no further job). Near-dup graphs are this small
    *    at every scale the queries run, and the loop's per-round job
    *    floor would cost more than the data.
    *  - Above it, [[componentsLoop]] runs min-label propagation to a
    *    fixpoint on the cluster: each round is one shuffle-join plus one
    *    min-aggregate over (long, long) rows, checkpointed, and the label
    *    sum detects the fixpoint. Not reaching it within `maxIter` rounds
    *    fails.
    *
    * Output: `(id, component, cluster_size, keep)` for every id in the
    * pair list, with the same schema on both paths — `component` is the
    * cluster's minimum id, `keep` marks the representative. Ids in no
    * pair are trivially their own singleton and are not emitted (join
    * back to the corpus for the keep-filter form). Deterministic for any
    * input order. */
  def connectedComponents(pairs: DataFrame, idACol: String, idBCol: String,
      maxIter: Int = 25): DataFrame = {
    val (edges, edgeRows) = edgeList(pairs, idACol, idBCol)
    if (edgeRows <= CcDriverMaxEdges) componentsOnDriver(edges)
    else componentsLoop(edges, maxIter)
  }

  /** [[connectedComponents]] through the distributed loop whatever the
    * edge count. */
  private[graft] def connectedComponentsDistributed(pairs: DataFrame, idACol: String,
      idBCol: String, maxIter: Int = 25): DataFrame =
    componentsLoop(edgeList(pairs, idACol, idBCol)._1, maxIter)

  /** The symmetric `(src, dst)` edge list of `pairs` as an eager
    * checkpoint leaf, and its row count, observed on that one job. Fails
    * naming the column when a pair holds a null id. */
  private def edgeList(pairs: DataFrame, idACol: String, idBCol: String): (DataFrame, Long) = {
    val nulls = org.apache.spark.sql.Observation()
    val size = org.apache.spark.sql.Observation()
    val a = col(idACol).cast("long")
    val b = col(idBCol).cast("long")
    // symmetrize via explode(array(fwd, rev, selfA, selfB)) — ONE pass
    // over the pair list (a union of forward + reversed would reference
    // the whole pair-producing pipeline, e.g. the simhash blocking
    // joins, twice). SELF-LOOPS ride the same explode so the per-round
    // neighbor-min join alone preserves every vertex's own label — the
    // union branch that used to carry it re-evaluated the whole jumped
    // subtree a second time every round; |V| extra edge rows buy its
    // removal once. They also make every vertex a `src`.
    val edges = checkpointLeaf(pairs
      .observe(nulls, count(when(a.isNull, 1)).as("a"), count(when(b.isNull, 1)).as("b"))
      .select(explode(array(
        struct(a.as("src"), b.as("dst")), struct(b.as("src"), a.as("dst")),
        struct(a.as("src"), a.as("dst")), struct(b.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .observe(size, count(lit(1)).as("n")))
    // a plan the optimizer proves empty runs no observation: no rows, so
    // no null and no edge
    def metric(o: org.apache.spark.sql.Observation, k: String) =
      o.get.getOrElse(k, 0L).toString.toLong
    for ((c, k) <- Seq(idACol -> "a", idBCol -> "b"))
      require(metric(nulls, k) == 0L,
        s"connectedComponents: column '$c' holds ${metric(nulls, k)} null ids")
    (edges, metric(size, "n"))
  }

  /** The labels `(id, label)` as [[connectedComponents]] returns them. */
  private def finish(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id"), col("label").as("component"), col("cluster_size"),
        (col("id") === col("label")).as("keep"))
  }

  /** Min-label union-find over the collected edge list, returned as a
    * local relation with the schema [[componentsLoop]] returns (taken
    * from one hop's plan, which no job runs). */
  private def componentsOnDriver(edges: DataFrame): DataFrame = {
    val es = edges.collect()
    val ids = es.map(_.getLong(0)).distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    // a root is the least index of its set, so its least id
    es.foreach { r =>
      val a = find(java.util.Arrays.binarySearch(ids, r.getLong(0)))
      val b = find(java.util.Arrays.binarySearch(ids, r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val root = Array.tabulate(ids.length)(find)
    val size = new Array[Long](ids.length)
    root.foreach(r => size(r) += 1)
    val schema = finish(edges.groupBy("src").agg(min(col("dst")).as("label"))
      .select(col("src").as("id"), col("label"))).schema
    edges.sparkSession.createDataFrame(java.util.Arrays.asList(ids.indices.map(i =>
      org.apache.spark.sql.Row(ids(i), ids(root(i)), size(root(i)), root(i) == i)): _*), schema)
  }

  /** The distributed loop of [[connectedComponents]] over an [[edgeList]]
    * leaf: min-label propagation to a fixpoint, every vertex repeatedly
    * taking the minimum label among itself and its neighbors. Rounds
    * needed = component diameter, and near-dup clusters are small and
    * dense (diameter ≲ 5 even at web scale — this is NOT a social graph),
    * so the plain propagation beats the O(log n)-round
    * large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce") in both simplicity and constant factors
    * here. Scale shape: each round is one shuffle-join plus one
    * min-aggregate over (long, long) rows — edge payloads are two ids,
    * never documents — and each generation is checkpointed (see the
    * in-body note on lineage blowup). Convergence is detected by the
    * label sum: labels only ever decrease, so an unchanged sum is exactly
    * the fixpoint (one scalar per round to the driver, nothing else).
    * Fails when `maxIter` rounds end before the fixpoint.
    *
    * The returned plan reads the final converged generation's
    * checkpoint; intermediate generations' blocks are released by the
    * ContextCleaner once unreferenced. */
  private def componentsLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    // Each generation is CHECKPOINTED, not just persisted: persist caches
    // data but leaves the logical plan intact, so generation k's plan
    // would nest generation k-1's plus the whole pair-producing subtree
    // at every `edges` reference — ~2× plan nodes per round, and the
    // driver dies in analysis long before the executors break a sweat
    // (the classic iterative-algorithm lineage blowup). checkpoint()
    // replaces the plan with a materialized leaf; reliable checkpointing
    // when the session has a checkpoint dir (production clusters —
    // survives executor loss), local otherwise.
    // Per-generation checkpoints are EAGER, and their captured origin
    // stats are DROPPED. Two distinct per-round compounding traps live
    // here, both invisible at sf0.1's 5 rounds and fatal at sf10's 12:
    //
    // 1. A lazy localCheckpoint never truncates RDD lineage — the job
    //    that first computes the generation is the convergence sum, an
    //    action on a DERIVED RDD (and under AQE its shuffles go through
    //    submitMapStage), so `doCheckpoint` never fires on the
    //    generation RDD itself. Each round references the prior
    //    generation ~3×, so task-binary size and stage submission grow
    //    geometrically. Eager count() fires doCheckpoint directly, and
    //    the convergence sum then reads cached partitions for ~ms.
    //
    // 2. Dataset.checkpoint copies `optimizedPlan.stats` into the new
    //    leaf, and the size-only estimator MULTIPLIES child sizes
    //    across joins — generation k's captured sizeInBytes is a
    //    product over generation k-1's, so the BigInt's BIT-LENGTH
    //    triples per round and plan construction sinks into
    //    BigInteger.multiplyToomCook3 (measured: build time per round
    //    0.6 s → 1.4 s → 5 s → 25 s; q101 spent 35 of its 53 s at sf10
    //    in stats arithmetic over a 30k-row label table).
    //    GraftBridge.dropOriginStats rebuilds the LogicalRDD leaf
    //    without them — correct as well as fast, since every join over
    //    these leaves is AQE-replanned from measured shuffle sizes.
    def materializeGen(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.GraftBridge.dropOriginStats(
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
          df.checkpoint(eager = true)
        else df.localCheckpoint(eager = true))
    // The convergence sum rides INSIDE the generation's materialization
    // action via observe() (CollectMetricsExec = an accumulator on the
    // rows the checkpoint job streams anyway), so each round is ONE
    // Spark job, not generation-job + sum-job. At sf10's 1:100 append
    // the separate sum was half of a ~0.65 s/round fixed floor that
    // dominated the whole incremental path (~11 rounds, BASELINE r12).
    // decimal(38,0) sum: a long sum would overflow (ANSI: throw) at
    // billions of large ids — exactly the scale this operator targets.
    def materializeGenWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val gen = materializeGen(df.observe(obs,
        coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("label_sum"),
        count(lit(1)).as("n_vertices")))
      // the eager checkpoint above IS the action that fills the metrics;
      // get only blocks on its execution-end event
      val m = obs.get
      (gen, new java.math.BigDecimal(m("label_sum").toString),
        m("n_vertices").toString.toLong)
    }

    var (labels, prevSum, nVertices) = materializeGenWithSum(
      edges.groupBy("src").agg(min(col("dst")).as("_mn"))
        .select(col("src").as("id"), least(col("src"), col("_mn")).as("label")))
    // every id persists through every generation, so the vertex count —
    // free as an observe metric on the init job — is CONSTANT and the
    // broadcast decision below is made once. (long, long) label rows are
    // ~25 B broadcast-serialized; the 4M cap bounds the broadcast at
    // ~100 MB. At 100 TB vertex counts the loop falls back to the
    // shuffle-join form — same plans as before, just bigger.
    // On the RELIABLE checkpoint path Dataset.checkpoint(eager = true)
    // re-executes the plan for the checkpoint-write job, so the observe
    // accumulators can double-count. label_sum doubles CONSISTENTLY
    // (convergence comparisons are unaffected) but n_vertices would read
    // ~2× and silently halve the effective broadcast gate — so the gate
    // input is recounted from the materialized leaf: one init-only job
    // over a (long, long) table, never repeated per round.
    if (labels.sparkSession.sparkContext.getCheckpointDir.isDefined)
      nVertices = labels.count()
    val ccBroadcastLabels = nVertices <= CcBroadcastMaxVertices
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // POINTER JUMPS first: label(v) ← label^(J+1)(v). A label is
      // always itself a vertex id of the same component, so each
      // self-join against the generation leaf resolves one level of
      // indirection, compressing the pointer forest ~(J+1)× per
      // generation (measured at sf0.1: no jumps 13 rounds, J=1 9,
      // J=2 5). The knee is J=2: past it the round count is gated by
      // the EDGE-WAVE below, not pointer depth — a new bridge's min
      // label advances one edge-hop per neighbor-min, and no amount of
      // pointer jumping can skip an edge the labels haven't seen
      // (measured at sf10: J=4 and J=6 left all three phases' round
      // counts unchanged and paid the extra joins). All jump joins
      // target the LEAF, never a derived plan — stacking lazy jumps on
      // derived plans is attribute-dedup territory with exploding
      // optimization cost (observed).
      // below the broadcast gate every jump join and the edge probe are
      // map-side (the label table ships once per round as a broadcast),
      // leaving the neighbor-min groupBy as the round's ONLY shuffle —
      // the per-round floor at the incremental-append scale was ~4
      // shuffle joins' worth of stage scheduling over a KiB-MB label
      // table (measured ~0.65 s/round at sf10 1:100, BASELINE r12)
      def maybeBcast(df: DataFrame): DataFrame =
        if (ccBroadcastLabels) broadcast(df) else df
      val jumped = (1 to CcJumpsPerRound).foldLeft(labels) { (acc, j) =>
        val lookup = labels.select(col("id").as("label"),
          col("label").as(s"_l$j"))
        acc.join(maybeBcast(lookup), Seq("label"))
          .select(col("id"), least(col("label"), col(s"_l$j")).as("label"))
      }
      // ...then H neighbor-min EDGE-HOPS folded into ONE materialized
      // generation: each hop advances every component's min label one
      // edge further, so H hops per job divide the edge-wave rounds —
      // the binding constraint — by H. Measured at sf10: H=2 DID cut
      // rounds (standing 12→8, recompute 12→8) but each fused round
      // cost ~1.7× a single-hop one, a wash or worse once the
      // self-loop + broadcast forms below made single-hop rounds
      // cheap — so H is 1. The convergence sum rides the
      // SAME job as an observe() metric — one Spark job per round,
      // nothing else. Sum-unchanged still detects the fixpoint
      // exactly: labels only ever decrease, so an unchanged sum
      // across H hops means no hop changed anything.
      // self-loops in `edges` carry each vertex's own label through the
      // join, so the hop is join→groupBy alone — no union branch, the
      // jumped subtree evaluates exactly once (as the broadcast input
      // below the gate)
      val hopped = (1 to CcHopsPerRound).foldLeft(jumped) { (acc, _) =>
        edges.join(maybeBcast(acc), edges("dst") === acc("id"))
          .select(edges("src").as("id"), col("label"))
          .groupBy("id").agg(min("label").as("label"))
      }
      val (next, nextSum, _) = materializeGenWithSum(hopped)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents: no fixpoint after maxIter=$maxIter " +
        "rounds; the labels are not merged")
    finish(labels)
  }

  /** Incremental connected components — the daily-crawl shape for the
    * CLUSTER table: fold a new batch's near-dup pairs into an existing
    * clustering without re-running the closure over the historical pair
    * graph. The identity that makes it exact: a component is fully
    * described by its star edges (member → representative), and
    * `CC(oldPairs ∪ newPairs) == CC(starEdges(CC(oldPairs)) ∪ newPairs)`
    * — connectivity classes are preserved when each old component is
    * collapsed to its star, and the min-id label of every class is
    * unchanged because the representative IS the class minimum. So the
    * output CONTRACT equals a full recompute, row for row (q170 pins
    * this against the batch oracle verbatim), while the work drops from
    * closure-over-history to closure over |old components' members| star
    * edges + the new pairs — and the star forest has diameter 1, so the
    * propagation rounds track the NEW batch's bridging depth, not the
    * historical graph's.
    *
    * `components` is [[connectedComponents]] output (only `id` and
    * `component` are read); `newPairs` is any pair list touching the
    * new batch — at minimum new×new and new×old pairs (old×old
    * connectivity is already in the star; see
    * [[simHashNearDupsAgainst]] for the pair generator with exactly
    * that contract). Old components may MERGE when a new pair bridges
    * them (labels only ever decrease); they never split. */
  def appendComponents(components: DataFrame, newPairs: DataFrame,
      idACol: String, idBCol: String): DataFrame = {
    val star = components.filter(col("id") =!= col("component"))
      .select(col("id").as(idACol), col("component").as(idBCol))
    // representatives of singleton-free components appear only on the
    // star's dst side; ids in no old pair arrive via newPairs or not at
    // all — both sides of the union carry the same two-column shape
    connectedComponents(
      star.unionByName(newPairs.select(col(idACol), col(idBCol))),
      idACol, idBCol)
  }

  /** [[appendComponents]] with the closure restricted to the components
    * the batch actually TOUCHES — the fix for the one remaining
    * standing-state-linear term in the incremental fold. The plain form
    * re-runs connected components over the star edges of EVERY standing
    * component each batch, so per-batch cost grows with the paired
    * membership of the whole corpus (measured: 30.6 → 48.9 s/batch as
    * standing clusters grew 0.15M → 1.45M rows, wide-family 5M soak);
    * here the closure input is the star edges of only the components
    * with a member adjacent to a new pair, plus the new pairs.
    *
    * EXACTNESS (why untouched rows may pass through verbatim): every
    * connectivity change involves at least one new pair, and old×old
    * connectivity is already collapsed into the star — so two standing
    * components can merge only through a chain alternating new pairs
    * and touched components, which keeps the whole merge closure inside
    * the touched set. An untouched component's member set — hence its
    * min-id label, size, and representative — is exactly that of the
    * full recompute. Touched components recompute over the same member
    * universe the full form would assign them, so labels agree there
    * too; the output equals [[appendComponents]] row for row (spec'd,
    * and q179 pins the composed fold against the batch-closure oracle).
    *
    * Scale shape: the touched-component list is batch-sized (≤ ids in
    * newPairs) and BROADCASTS; the standing table is read twice with
    * map-side semi/anti joins (no shuffle of the big side), and the
    * closure — the only iterative work — runs over affected members
    * only, i.e. cost tracks the BATCH's duplicate density, not corpus
    * history. */
  def appendComponentsDelta(components: DataFrame, newPairs: DataFrame,
      idACol: String, idBCol: String): DataFrame = {
    // LEAF the pair list first: this function references it three times
    // (both pairIds sides + the closure union) and the caller's plan is
    // typically the batch-vs-corpus blocked join — without the leaf that
    // join re-executes per reference (measured: the 5M soak's per-batch
    // cost ROSE under the delta fold until this materialization). Pair
    // lists are near-dup-sized, so the checkpoint is bounded.
    val np = checkpointLeaf(newPairs.select(col(idACol), col(idBCol)))
    val pairIds = np.select(col(idACol).as("id"))
      .unionByName(np.select(col(idBCol).as("id"))).distinct()
    val touched = components.join(broadcast(pairIds), Seq("id"), "left_semi")
      .select("component").distinct()
    val affected = components
      .join(broadcast(touched), Seq("component"), "left_semi")
    val untouched = components
      .join(broadcast(touched), Seq("component"), "left_anti")
    val star = affected.filter(col("id") =!= col("component"))
      .select(col("id").as(idACol), col("component").as(idBCol))
    connectedComponents(star.unionByName(np), idACol, idBCol)
      .unionByName(untouched
        .select(col("id"), col("component"), col("cluster_size"), col("keep")))
  }

  /** Near-dup pairs of a NEW batch against the full corpus (itself
    * included): every pair with at least one end in `newDocs`, i.e.
    * new×new and new×old — and never old×old, which is the whole point:
    * at 100 TB the historical pair graph is already collapsed into the
    * cluster table ([[appendComponents]]) and regenerating its pairs
    * daily is the cost this operator deletes. Same 4×15-bit pigeonhole
    * blocking and verify-before-distinct discipline as
    * [[simHashNearDups]] (exact for `maxHamming ≤ 3`); pair order is
    * normalized with least/greatest since a new doc can sit on either
    * side of an id comparison. Output `(id_a, id_b, hamming)`,
    * id_a < id_b, the family's shared contract. */
  def simHashNearDupsAgainst(newDocs: DataFrame, allDocs: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3): DataFrame =
    simHashNearDupsAgainstFps(simHashTable(newDocs, textCol, idCol),
      simHashTable(allDocs, textCol, idCol), idCol, maxHamming)

  /** [[simHashNearDupsAgainst]] over PRECOMPUTED fingerprint tables
    * (`(idCol, simhash)` — [[simHashTable]]'s contract): the form the
    * standing-state deployment calls. Fingerprints are pure per-doc
    * values, so the corpus side is a stored table maintained by
    * appending each batch's rows — at 100 TB the daily append then
    * tokenizes ONLY the batch, and the corpus-side cost drops from a
    * full re-tokenize to a 16-bytes-per-doc scan (the phase split is
    * recorded in `BENCH_*inc*.json`; numbers in BASELINE.md r12). */
  def simHashNearDupsAgainstFps(newFps: DataFrame, allFps: DataFrame,
      idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val nB = simHashBlockKeys(newFps, idCol)
      .select(col("block_idx"), col("block_key"),
        col(idCol).as("id_n"), col("simhash").as("sh_n"))
    val aB = simHashBlockKeys(allFps, idCol)
      .select(col("block_idx"), col("block_key"),
        col(idCol).as("id_o"), col("simhash").as("sh_o"))
    nB.join(aB, Seq("block_idx", "block_key"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"),
        hamming(col("sh_n"), col("sh_o")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[simHashNearDupsAgainst]]'s WIDE (120-bit) twin: near-dup pairs of
    * a new batch against the full corpus (itself included — new×new and
    * new×old, never old×old) under the stricter ≤ maxHamming of 120
    * bits. The 60-bit form's 15-bit block keys make per-batch candidate
    * volume ~batch·4·N/2^15 — LINEAR in the standing corpus N, the exact
    * superlinear term the batch self-join already measured and escaped
    * via [[simHashWideNearDups]]. The 30-bit quarter keys here keep
    * expected bucket occupancy ~N/2^30, i.e. candidate volume tracks
    * TRUE near-dup density until the corpus approaches a billion docs —
    * the family the standing-cluster fold must run past ~10^5-10^6
    * standing docs ([[graft.streaming.EventsStream.foldBatchIntoClusters]]
    * dispatches here by standing-state size). */
  def simHashWideNearDupsAgainst(newDocs: DataFrame, allDocs: DataFrame,
      textCol: String, idCol: String, maxHamming: Int = 3): DataFrame =
    simHashWideNearDupsAgainstFps(simHashWideTable(newDocs, textCol, idCol),
      simHashWideTable(allDocs, textCol, idCol), idCol, maxHamming)

  /** [[simHashWideNearDupsAgainst]] over PRECOMPUTED wide fingerprint
    * tables (`(idCol, sh_lo, sh_hi)` — [[simHashWideTable]]'s contract):
    * the standing-state form. Same 4×30-bit pigeonhole grid as the batch
    * wide family ([[simHashWideQuarterKeys]] — ONE geometry definition),
    * same verify-before-distinct discipline, exact for `maxHamming ≤ 3`.
    * Output `(id_a, id_b, hamming)`, id_a < id_b (least/greatest
    * normalization — a new doc can sit on either side). */
  def simHashWideNearDupsAgainstFps(newFps: DataFrame, allFps: DataFrame,
      idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val nB = simHashWideBlockKeys(newFps, idCol)
      .select(col("block_idx"), col("block_key"), col(idCol).as("id_n"),
        col("sh_lo").as("lo_n"), col("sh_hi").as("hi_n"))
    val aB = simHashWideBlockKeys(allFps, idCol)
      .select(col("block_idx"), col("block_key"), col(idCol).as("id_o"),
        col("sh_lo").as("lo_o"), col("sh_hi").as("hi_o"))
    nB.join(aB, Seq("block_idx", "block_key"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"),
        (hamming(col("lo_n"), col("lo_o")) +
          hamming(col("hi_n"), col("hi_o"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Canonical-document selection — the survivorship rule a production
    * dedup actually wants: within each duplicate cluster keep the
    * BEST member by a quality attribute (longest / highest-scoring),
    * not the accidental lowest id. `clusters` is
    * [[connectedComponents]] output; `attrs` supplies the score
    * (ties → lowest id, so selection is total and replayable).
    *
    * Scale shape: one equi join on id (both sides id-distributed) and
    * one window keyed by component — cluster sizes are small by
    * construction (near-dup groups), so the window partitions are
    * tiny; nothing global. */
  def canonicalPerCluster(clusters: DataFrame, attrs: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy("component").orderBy(desc("_score"), asc("id"))
    clusters.join(
        attrs.select(col(idCol).as("id"), col(scoreCol).as("_score")), Seq("id"))
      .withColumn("canonical", (row_number().over(w) === 1).cast("int"))
      .select(col("id"), col("component"), col("cluster_size"),
        col("_score").as("score"), col("canonical"))
  }

  /** Leakage-safe train/val/test split: near-duplicate documents MUST
    * land on the same side. A per-document split
    * ([[graft.ops.Extended.splitColumn]], q82) scatters the members of
    * every near-dup cluster independently, so ~23% of each training
    * document's near-copies end up in val/test — training text leaking
    * into evaluation, the contamination that per-doc hashing cannot see.
    * Here the split key is the dup CLUSTER: simhash near-dup pairs →
    * connected components, and every document hashes by its component
    * representative (its own id when unpaired), so a whole cluster moves
    * as one unit.
    *
    * Scale shape: the simhash pass + O(log D) component rounds are
    * q101's (pigeonhole-blocked, hashes-only shuffles); the component
    * table covers only PAIRED docs — typically a small fraction of the
    * corpus — and joins back on id; the split itself is a per-row hash.
    * Deterministic for any input order and any partitioning. */
  def leakageSafeSplit(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 2): DataFrame = {
    val pairs = simHashNearDups(docs, textCol, idCol, maxHamming = maxHamming)
    val comp = connectedComponents(pairs, "id_a", "id_b")
    docs.join(comp.select(col("id").as(idCol), col("component")),
        Seq(idCol), "left_outer")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
      .withColumn("split", graft.ops.Extended.splitColumn(col("group_id")))
      .select(col(idCol), col("group_id"), col("split"))
  }

  // ---------------------------------------------------------------------
  // Queries + oracles
  // ---------------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    // leakage-safe split: near-dup clusters move between train/val/test
    // as one unit (the oracle replays simhash → closure → group hash)
    "q151_leakage_safe_split" -> { (s, d) =>
      leakageSafeSplit(Tables(s, d, "documents"), "text", "doc_id",
        maxHamming = 2)
        .orderBy("doc_id")
    },

    // exact dedup: duplicate-group report (hash-shuffle on fingerprint)
    "q50_exact_dup_groups" -> { (s, d) =>
      dupGroups(Tables(s, d, "documents"), "text", "doc_id")
        .orderBy("fp")
    },

    // exact dedup: surviving rows (deterministic min-id survivor)
    "q51_exact_dedup" -> { (s, d) =>
      exactDedup(Tables(s, d, "documents"), "text", "doc_id")
        .select("doc_id", "fp").orderBy("doc_id")
    },

    // exact n-gram Jaccard near-dup pairs on a deterministic subsample
    "q52_ngram_jaccard" -> { (s, d) =>
      val docs = Tables(s, d, "documents").filter(col("doc_id") % 10 === 0)
      ngramJaccardPairs(docs, "text", "doc_id", shingleN = 3, threshold = 0.05)
        .orderBy("id_a", "id_b")
    },

    // asymmetric containment (truncation/subset detector) over the same
    // corpus slice as q52, at its calibration threshold (this corpus has
    // no planted subsets, so the interesting rows are the asymmetric
    // partial overlaps a Jaccard cut would hide)
    "q153_containment_pairs" -> { (s, d) =>
      val docs = Tables(s, d, "documents").filter(col("doc_id") % 10 === 0)
      containmentPairs(docs, "text", "doc_id", shingleN = 3, threshold = 0.05)
        .orderBy("sub_id", "sup_id")
    },

    // MinHash signatures + LSH banding candidate pairs. Fully
    // hash-checked: the shingle hash is the cross-engine h60 and the
    // permutations are affine mod 2^61−1 with plan-time constants, so
    // DuckDB recomputes the exact signatures; band collisions are slice
    // EQUALITY, so the oracle needs no banding hash at all (it emits a
    // pair iff some band's 4 signature positions agree, bucket-cap
    // included).
    "q53_minhash_lsh_pairs" -> { (s, d) =>
      minHashNearDups(Tables(s, d, "documents"), "text", "doc_id",
        threshold = 0.3)
        .orderBy("id_a", "id_b")
    },

    // persisted LSH index: build on the 90% reference, probe with the
    // 10% batch — the batch-vs-index round trip end to end; the oracle
    // replays candidates as slice equality over both sides' signatures
    "q119_lsh_index_probe" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val path = graft.FsUtil.indexScratchDir("q119", d)
      saveLshIndex(docs.filter(col("doc_id") % 10 =!= 0), "text", "doc_id", path)
      probeLshIndex(s, path, docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", threshold = 0.3)
        .orderBy("new_id", "ref_id")
    },

    // corpus-level MinHash overlap between sources — per-group
    // signatures, pairwise matching fraction
    "q111_corpus_overlap" -> { (s, d) =>
      corpusOverlap(Tables(s, d, "documents"), "text", "source")
        .orderBy("group_a", "group_b")
    },

    // eval-set decontamination: flag corpus docs sharing an 8-gram with
    // a (deterministically sampled) eval set — the classic pre-training
    // hygiene pass. The eval sample overlaps the corpus by construction,
    // so the flags exercise both outcomes.
    "q98_decontaminate" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val eval = docs.filter(substring(md5(col("text")), 32, 1) < "2")
      decontaminate(docs, eval, "text", "doc_id", n = 8)
        .select(col("doc_id"), col("n_eval_ngram_hits"),
          col("contaminated").cast("int").as("contaminated"))
        .orderBy("doc_id")
    },

    // decontamination through the bloom-pruned semi join (6-grams, a
    // smaller eval sample): the bloom admits false positives only, the
    // confirming join removes them — so the oracle is the same exact SQL
    // as q98's, and a green hash proves the pruned plan loses nothing
    "q104_bloom_decontaminate" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val eval = docs.filter(substring(md5(col("text")), 32, 1) < "1")
      decontaminateBloom(docs, eval, "text", "doc_id", n = 6,
        expectedGrams = 100000L, fpp = 0.01)
        .select(col("doc_id"), col("n_eval_ngram_hits"),
          col("contaminated").cast("int").as("contaminated"))
        .orderBy("doc_id")
    },

    // incremental dedup: flag every 10th doc (the "new batch") against
    // the other 90% (the "reference corpus") — exact + simhash-near
    "q107_dedup_against_reference" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      dedupAgainstReference(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", maxHamming = 3)
        .orderBy("doc_id")
    },

    // q107's incremental dedup on the wide fingerprint — the
    // corpus-scale probe-batch-vs-reference form; oracle is the
    // brute-force new×ref min-hamming over both 60-bit halves
    "q156_dedup_against_reference_wide" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      dedupAgainstReferenceWide(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", maxHamming = 3)
        .orderBy("doc_id")
    },

    // corpus-wide sentence dedup: global first occurrence survives,
    // documents reassembled in order
    "q105_sentence_dedup" -> { (s, d) =>
      sentenceDedup(Tables(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"),
          col("n_sentences").cast("int").as("n_sentences"),
          col("n_kept").cast("int").as("n_kept"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },

    // surgical decontamination: only the sentences sharing a 5-gram
    // with the eval set are excised; documents are reassembled
    "q106_scrub_eval_sentences" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val eval = docs.filter(substring(md5(col("text")), 32, 1) < "1")
      scrubEvalSentences(docs, eval, "text", "doc_id", n = 5)
        .select(col("doc_id"),
          col("n_sentences").cast("int").as("n_sentences"),
          col("n_clean").cast("int").as("n_clean"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },

    // SimHash fingerprints (60-bit cross-engine hash; oracle-checked)
    "q54_simhash" -> { (s, d) =>
      simHashTable(Tables(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // SimHash near-dup pairs within Hamming distance 3 — the 4-block
    // pigeonhole makes this EXACT, so the brute-force O(n²) DuckDB pair
    // scan is a true oracle for the blocked plan
    "q55_simhash_near_dups" -> { (s, d) =>
      simHashNearDups(Tables(s, d, "documents"), "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    },

    // wide (120-bit) SimHash near-dup pairs: 30-bit pigeonhole buckets
    // keep the within-bucket scan collision-free at corpus scale (the
    // 60-bit form's one superlinear edge); oracle is the brute-force
    // O(n²) two-half Hamming scan, exact for the blocked plan
    "q154_simhash_wide_near_dups" -> { (s, d) =>
      simHashWideNearDups(Tables(s, d, "documents"), "text", "doc_id",
          maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    },

    // the shard-then-merge execution of q154 (3 shards → 3 within + 3
    // cross passes): the CONTRACT is that sharding moves job geometry
    // only, so the oracle is q154's brute-force scan VERBATIM — a green
    // row is a proof of the within∪cross pair-partition argument on
    // real data, not a spec corpus
    "q159_simhash_wide_sharded" -> { (s, d) =>
      simHashWideNearDupsSharded(Tables(s, d, "documents"), "text", "doc_id",
          shards = 3, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    },

    // wide incremental pair generation (r14): every pair with at least
    // one end in the "new batch" (every 10th doc) — new×new ∪ new×old,
    // never old×old — on the 120-bit fingerprint's 30-bit quarter keys.
    // This is the pair source the standing-cluster fold dispatches to
    // past the 60-bit family's ~10^5-doc crossover (per-batch candidate
    // volume N/2^30 instead of N/2^15). Oracle: brute-force new×all
    // two-half hamming scan (q156's discipline) — exact for the blocked
    // plan by the pigeonhole argument.
    "q178_simhash_wide_against" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      simHashWideNearDupsAgainst(
        docs.filter(col("doc_id") % 10 === 0), docs,
        "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    },

    // exact-substring duplicate spans: every 10-token window that
    // repeats anywhere in the corpus (first occurrence survives),
    // merged into maximal per-doc spans — the fixed-window form of
    // suffix-array dedup
    "q128_duplicate_spans" -> { (s, d) =>
      duplicateSpans(Tables(s, d, "documents"), "text", "doc_id", n = 10)
        .orderBy("doc_id", "span_start")
    },

    // the multi-scale ladder (r14): five doubling window scales, each
    // with gap tolerance = its own window, unioned and overlap-merged
    // with the largest contributing scale as per-span evidence. The
    // oracle replays all five scale passes, the tolerant merges, and
    // the cross-scale merge.
    "q181_duplicate_spans_ladder" -> { (s, d) =>
      duplicateSpansLadder(Tables(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id", "span_start")
    },

    // span-excision accounting: per-document duplicated-token budget a
    // rewrite pass would remove (docs with no spans report 0 / full keep)
    "q129_span_excise_stats" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val perDoc = duplicateSpans(docs, "text", "doc_id", n = 10)
        .groupBy("doc_id").agg(sum("span_tokens").as("dup_tokens"))
      docs.select(col("doc_id"),
          size(graft.text.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
            .as("kept_tokens"))
        .orderBy("doc_id")
    },

    // near-dup pairs → transitive dedup clusters (min-label propagation
    // to fixpoint); the oracle replays the closure with a recursive CTE
    "q101_dedup_clusters" -> { (s, d) =>
      val pairs = simHashNearDups(Tables(s, d, "documents"), "text",
        "doc_id", maxHamming = 2)
      connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // canonical selection: the q101 clusters re-ranked by document
    // length — keep the most complete member, not the lowest id
    "q138_canonical_selection" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      val pairs = simHashNearDups(docs, "text", "doc_id", maxHamming = 2)
      canonicalPerCluster(connectedComponents(pairs, "id_a", "id_b"),
        docs, "doc_id", "n_chars")
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"),
          col("score").as("n_chars"), col("canonical"))
        .orderBy("doc_id")
    },

    // q101's clusters over the WIDE pair generator: the corpus-scale
    // exact dedup composition end to end (30-bit buckets keep pair
    // generation linear; the closure itself was never the bottleneck)
    "q155_dedup_clusters_wide" -> { (s, d) =>
      val pairs = simHashWideNearDups(Tables(s, d, "documents"), "text",
        "doc_id", maxHamming = 3)
      connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // the PRODUCTION corpus-scale composition end to end: SHARDED wide
    // pair generation (q159's bounded job geometry — every join's
    // shuffle capped by the shard, never the corpus) feeding the same
    // closure as q155. The oracle is q155's recursive CTE VERBATIM, so
    // a green row proves the within∪cross shard-merge identity survives
    // the full pipeline (pairs → components → keep flags), not just the
    // pair list q159 checks.
    "q167_dedup_clusters_wide_sharded" -> { (s, d) =>
      val pairs = simHashWideNearDupsSharded(Tables(s, d, "documents"), "text",
        "doc_id", shards = 3, maxHamming = 3)
      connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // the INCREMENTAL dedup-cluster maintenance shape (r12): 90% of the
    // corpus is "history" already collapsed into a cluster table, the
    // doc_id%10==0 slice arrives as today's batch — new pairs come from
    // the batch-vs-corpus block join (never old×old), and
    // appendComponents folds them into the standing clusters via the
    // star-edges identity. The oracle is q101's full-corpus closure
    // VERBATIM, so a green hash proves incremental == batch recompute.
    "q170_incremental_components" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      // ONE tokenize→vote fingerprint pass feeds the standing build's
      // self-join AND both sides of the batch-vs-corpus join (r15):
      // fingerprints are pure per-doc values, so fps(docs) filtered by
      // the id slices equals fps(slice) row for row — the composed form
      // re-ran the pipeline five times (twice in the standing self-join,
      // twice in `against`, once more for the batch side). The
      // fingerprint table is 16 B/doc — the guide §8 "decide on a
      // lightweight proxy" shape; q170's oracle hash is unchanged.
      val fps = checkpointLeaf(simHashTable(docs, "text", "doc_id"))
      val standing = connectedComponents(
        simHashNearDupsFromFps(fps.filter(col("doc_id") % 10 =!= 0),
          "doc_id", maxHamming = 2),
        "id_a", "id_b")
      val newPairs = simHashNearDupsAgainstFps(
        fps.filter(col("doc_id") % 10 === 0), fps, "doc_id", maxHamming = 2)
      appendComponents(standing, newPairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // q170's DELTA execution (r14): the fold's closure runs over only
    // the batch-touched components' star edges + the new pairs;
    // untouched standing rows pass through verbatim. The CONTRACT is
    // that the restriction moves work only, so the oracle is q170's
    // recursive-CTE batch closure VERBATIM — a green row proves the
    // touched-set argument on real data.
    "q179_incremental_components_delta" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      // shared fingerprint pass — see q170's note; q179's oracle (the
      // batch closure) is unchanged
      val fps = checkpointLeaf(simHashTable(docs, "text", "doc_id"))
      val standing = connectedComponents(
        simHashNearDupsFromFps(fps.filter(col("doc_id") % 10 =!= 0),
          "doc_id", maxHamming = 2),
        "id_a", "id_b")
      val newPairs = simHashNearDupsAgainstFps(
        fps.filter(col("doc_id") % 10 === 0), fps, "doc_id", maxHamming = 2)
      appendComponentsDelta(standing, newPairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"), col("cluster_size"),
          col("keep").cast("int").as("keep"))
        .orderBy("doc_id")
    }
  )

  /** q181 oracle: the full multi-scale ladder replay — per scale the
    * q128 machinery (positioned md5-gram hashes, global first-occurrence
    * rank) with the scale's own gap-tolerant island merge, then the
    * union, the (start, end, scale)-ordered cross-scale merge, and the
    * max-scale label. */
  private def q181Oracle: String = {
    val scales = Seq(10, 20, 40, 80, 160)
    def scaleCtes(n: Int): String =
      s"""g_$n AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    CAST('0x' || substr(md5(array_to_string(t[i:i+${n - 1}], ' ')), 1, 15)
         |      AS BIGINT) AS gh
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${n - 2})) AS i
         |        FROM tok WHERE len(t) >= $n)),
         |r_$n AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS occ
         |  FROM g_$n),
         |d_$n AS (SELECT doc_id, pos FROM r_$n WHERE occ > 1),
         |m_$n AS (SELECT doc_id, pos,
         |    max(pos + $n) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM d_$n),
         |i_$n AS (SELECT doc_id, pos,
         |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end + $n
         |      THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM m_$n),
         |s_$n AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
         |    CAST(max(pos) + $n AS BIGINT) AS e, $n AS scale
         |  FROM i_$n GROUP BY doc_id, island)""".stripMargin
    val union = scales.map(n => s"SELECT * FROM s_$n").mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |${scales.map(scaleCtes).mkString(",\n")},
       |alls AS (
       |  $union),
       |mm AS (SELECT doc_id, s, e, scale,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e, scale
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM alls),
       |ii AS (SELECT doc_id, s, e, scale,
       |    sum(CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e, scale
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM mm)
       |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
       |  CAST(max(e) AS BIGINT) AS span_end,
       |  CAST(max(e) - min(s) AS BIGINT) AS span_tokens,
       |  CAST(max(scale) AS INTEGER) AS max_scale
       |FROM ii GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** DuckDB mirror of the per-bit majority vote (shared by q54/q55):
    * token → 60-bit md5-derived hash → 60 vote sums → fingerprint. */
  private def simHashOracleCore: String = {
    val votes = (0 until simHashBits)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v_$b")
      .mkString(", ")
    val fp = (0 until simHashBits)
      .map(b => s"(CASE WHEN v_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
       |  FROM tok),
       |votes AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |fp AS (SELECT d.doc_id,
       |    CASE WHEN d.text IS NULL THEN NULL
       |      ELSE COALESCE(CAST($fp AS BIGINT), 0::BIGINT) END AS simhash
       |  FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id)""".stripMargin
  }

  /** q154 oracle core: the wide fingerprint's two 60-bit halves replayed
    * from the same vote table machinery — `lo` hashes the raw token,
    * `hi` hashes token||'#2' (the domain-separation suffix the Spark
    * side uses). */
  private def simHashWideOracleCore: String = {
    def votes(h: String, tag: String) = (0 until simHashBits)
      .map(b => s"SUM(CASE WHEN ($h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS ${tag}_$b")
      .mkString(", ")
    def fp(tag: String) = (0 until simHashBits)
      .map(b => s"(CASE WHEN ${tag}_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
       |  FROM documents),
       |h2 AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS hl,
       |    CAST('0x' || substr(md5(t || '#2'), 1, 15) AS BIGINT) AS hh
       |  FROM tok),
       |votes AS (SELECT doc_id, ${votes("hl", "vl")}, ${votes("hh", "vh")}
       |  FROM h2 GROUP BY doc_id),
       |wfp AS (SELECT d.doc_id,
       |    CASE WHEN d.text IS NULL THEN NULL
       |      ELSE COALESCE(CAST(${fp("vl")} AS BIGINT), 0::BIGINT) END AS sh_lo,
       |    CASE WHEN d.text IS NULL THEN NULL
       |      ELSE COALESCE(CAST(${fp("vh")} AS BIGINT), 0::BIGINT) END AS sh_hi
       |  FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id)""".stripMargin
  }

  /** q53 oracle: replay the whole MinHash-LSH pipeline in DuckDB.
    *
    *  - shingle hash: `'0x' || substr(md5(shingle), 1, 15)` = h60;
    *  - signature: 64 `min((a_i·h + b_i) % (2^61−1))` aggregates with the
    *    SAME (a_i, b_i) constants the Spark aggregate derives
    *    ([[graft.functions.MinHashAgg.affineParams]]) — HUGEINT keeps the
    *    products exact;
    *  - banding: a pair is a candidate iff the 4 signature positions of
    *    some band all agree (bucket-hash equality ⟺ slice equality), and
    *    the band's bucket has ≤ maxBucket members (the skew guard);
    *  - score: matching-position fraction, threshold 0.3.
    */
  private def q53Oracle: String = {
    val numPerm = 64; val bands = 16; val rows = 4
    val maxBucket = 1000; val threshold = "0.3"
    val params = graft.functions.MinHashAgg.affineParams(numPerm)
    val P = graft.functions.MinHashAgg.P
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(min((${a}::HUGEINT * h + $b) % $P) AS BIGINT) AS p_$i"
    }.mkString(",\n    ")
    val bandKeys = (0 until bands).map { j =>
      val ks = (0 until rows).map(r => s"p_${j * rows + r} AS k$r").mkString(", ")
      s"SELECT doc_id, $j AS band_idx, $ks FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val matchTerms = (0 until numPerm)
      .map(i => s"(CASE WHEN a.p_$i = b.p_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
       |  FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bandkeys AS (
       |  $bandKeys),
       |buckets AS (
       |  SELECT band_idx, k0, k1, k2, k3, count(*) AS bucket_n
       |  FROM bandkeys GROUP BY ALL),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bandkeys x
       |  JOIN bandkeys y USING (band_idx, k0, k1, k2, k3)
       |  JOIN buckets g USING (band_idx, k0, k1, k2, k3)
       |  WHERE x.doc_id < y.doc_id AND g.bucket_n <= $maxBucket),
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |    ($matchTerms) / 64.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig a ON a.doc_id = c.id_a
       |  JOIN sig b ON b.doc_id = c.id_b)
       |SELECT id_a, id_b, est_jaccard FROM scored
       |WHERE est_jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q111 oracle: the q53 signature replay grouped by source instead of
    * doc — identical affine family, then the pairwise matching-position
    * fraction. */
  private def q111Oracle: String = {
    val numPerm = 64
    val params = graft.functions.MinHashAgg.affineParams(numPerm)
    val P = graft.functions.MinHashAgg.P
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(min((${a}::HUGEINT * h + $b) % $P) AS BIGINT) AS p_$i"
    }.mkString(",\n    ")
    val matchTerms = (0 until numPerm)
      .map(i => s"(CASE WHEN a.p_$i = b.p_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT source, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |h AS (SELECT source, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
       |  FROM sh),
       |sig AS (SELECT source,
       |    $mins
       |  FROM h GROUP BY source)
       |SELECT a.source AS group_a, b.source AS group_b,
       |  ($matchTerms) / 64.0 AS est_jaccard
       |FROM sig a JOIN sig b ON a.source < b.source
       |ORDER BY group_a, group_b""".stripMargin
  }

  /** q119 oracle: q53's signature replay; candidates = (new, ref) pairs
    * sharing any band SLICE (the hash-equality the index uses implies
    * slice equality modulo 64-bit xxhash collisions — none at this
    * scale, same adjudication as q53), scored and thresholded. */
  private def q119Oracle: String = {
    val numPerm = 64; val bands = 16; val rows = 4
    val params = graft.functions.MinHashAgg.affineParams(numPerm)
    val P = graft.functions.MinHashAgg.P
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      s"CAST(min((${a}::HUGEINT * h + $b) % $P) AS BIGINT) AS p_$i"
    }.mkString(",\n    ")
    val bandKeySelects = (0 until bands).map { j =>
      val ks = (0 until rows).map(r => s"p_${j * rows + r} AS k$r").mkString(", ")
      s"SELECT doc_id, $j AS band_idx, $ks FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val matchTerms = (0 until numPerm)
      .map(i => s"(CASE WHEN a.p_$i = b.p_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
       |  FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bandkeys AS (
       |  $bandKeySelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS ref_id
       |  FROM bandkeys x
       |  JOIN bandkeys y USING (band_idx, k0, k1, k2, k3)
       |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0)
       |SELECT c.new_id, c.ref_id,
       |  ($matchTerms) / 64.0 AS est_jaccard
       |FROM cand c
       |JOIN sig a ON a.doc_id = c.new_id
       |JOIN sig b ON b.doc_id = c.ref_id
       |WHERE ($matchTerms) / 64.0 >= 0.3
       |ORDER BY new_id, ref_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q119_lsh_index_probe" -> q119Oracle,
    // duplicated 10-token windows ranked in global (doc, pos) order,
    // merged to maximal spans with the running-max island technique —
    // the Spark plan replayed relationally
    "q128_duplicate_spans" ->
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    CAST('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15)
         |      AS BIGINT) AS gh
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i
         |        FROM tok WHERE len(t) >= 10)),
         |r AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS occ
         |  FROM g),
         |d AS (SELECT doc_id, pos FROM r WHERE occ > 1),
         |m AS (SELECT doc_id, pos,
         |    max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM d),
         |i2 AS (SELECT doc_id, pos,
         |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM m)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 10 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 10 - min(pos) AS BIGINT) AS span_tokens
         |FROM i2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    "q129_span_excise_stats" ->
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    CAST('0x' || substr(md5(array_to_string(t[i:i+9], ' ')), 1, 15)
         |      AS BIGINT) AS gh
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i
         |        FROM tok WHERE len(t) >= 10)),
         |r AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS occ
         |  FROM g),
         |d AS (SELECT doc_id, pos FROM r WHERE occ > 1),
         |m AS (SELECT doc_id, pos,
         |    max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM d),
         |i2 AS (SELECT doc_id, pos,
         |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM m),
         |sp AS (SELECT doc_id, max(pos) + 10 - min(pos) AS span_tokens
         |  FROM i2 GROUP BY doc_id, island),
         |per_doc AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(len(t.t) AS BIGINT) AS n_tokens,
         |  COALESCE(p.dup_tokens, 0) AS dup_tokens,
         |  CAST(len(t.t) AS BIGINT) - COALESCE(p.dup_tokens, 0) AS kept_tokens
         |FROM tok t LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    "q111_corpus_overlap" -> q111Oracle,
    "q53_minhash_lsh_pairs" -> q53Oracle,
    // transitive closure over the q55 pair list via recursive CTE, then
    // per-vertex min reachable id = the component label
    // q151: the q101 closure, every doc joined to its component (own id
    // when unpaired), split by the component representative's hash —
    // the same md5-last-hex-char rule as q82's per-doc split
    "q151_leakage_safe_split" ->
      s"""WITH RECURSIVE $simHashOracleCore,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src),
         |grp AS (
         |  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN lbl l USING (doc_id))
         |SELECT doc_id, group_id,
         |  CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 32, 1) < 'c'
         |         THEN 'train'
         |       WHEN substr(md5(CAST(group_id AS VARCHAR)), 32, 1) < 'e'
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM grp ORDER BY doc_id""".stripMargin,
    "q101_dedup_clusters" -> narrowClustersOracle,
    // the INCREMENTAL execution shares q101's oracle VERBATIM (the q167
    // pattern): appendComponents' contract is result identity with the
    // batch recompute, so a green row proves the star-edges identity
    // CC(old ∪ new) == CC(star(CC(old)) ∪ new) end to end on real data
    "q170_incremental_components" -> narrowClustersOracle,
    "q179_incremental_components_delta" -> narrowClustersOracle,
    "q181_duplicate_spans_ladder" -> q181Oracle,
    // q138: the q101 closure re-ranked by n_chars (ties → lowest id)
    "q138_canonical_selection" ->
      s"""WITH RECURSIVE $simHashOracleCore,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src),
         |sizes AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM lbl GROUP BY component),
         |rk AS (
         |  SELECT l.doc_id, l.component, s.cluster_size, d.n_chars,
         |    row_number() OVER (PARTITION BY l.component
         |      ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn
         |  FROM lbl l JOIN sizes s USING (component)
         |    JOIN documents d USING (doc_id))
         |SELECT doc_id, component, cluster_size, n_chars,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS canonical
         |FROM rk ORDER BY doc_id""".stripMargin,
    "q98_decontaminate" ->
      """WITH ev AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE substr(md5(text), 32, 1) < '2'),
        |evg AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(t) - 6),
        |      i -> array_to_string(t[i:i+7], ' '))) AS g
        |    FROM ev WHERE len(t) >= 8)),
        |dg AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM (
        |    SELECT DISTINCT doc_id,
        |      unnest(list_transform(range(1, len(t) - 6),
        |        i -> array_to_string(t[i:i+7], ' '))) AS g
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |          FROM documents)
        |    WHERE len(t) >= 8)),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM dg JOIN evg USING (gh) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_eval_ngram_hits,
        |  CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q107: exact = fingerprint match into the reference partition;
    // near = brute-force new×ref hamming min (the oracle needs no
    // blocking — pigeonhole exactness at <=3 means capped minima agree)
    "q107_dedup_against_reference" ->
      s"""WITH $simHashOracleCore,
         |xf AS (SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS xfp
         |  FROM documents),
         |exact AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM xf n JOIN xf r ON n.xfp = r.xfp AND r.doc_id % 10 <> 0
         |  WHERE n.doc_id % 10 = 0),
         |near AS (
         |  SELECT n.doc_id, MIN(bit_count(xor(n.simhash, r.simhash))) AS mh
         |  FROM fp n JOIN fp r ON r.doc_id % 10 <> 0
         |  WHERE n.doc_id % 10 = 0
         |  GROUP BY n.doc_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS exact_dup,
         |  CAST(CASE WHEN near.mh <= 3 THEN 1 ELSE 0 END AS INTEGER) AS near_dup,
         |  CAST(CASE WHEN near.mh <= 3 THEN near.mh ELSE NULL END AS INTEGER)
         |    AS min_ref_hamming
         |FROM documents d
         |LEFT JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near ON near.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 0
         |ORDER BY d.doc_id""".stripMargin,
    "q156_dedup_against_reference_wide" ->
      s"""WITH $simHashWideOracleCore,
         |xf AS (SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS xfp
         |  FROM documents),
         |exact AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM xf n JOIN xf r ON n.xfp = r.xfp AND r.doc_id % 10 <> 0
         |  WHERE n.doc_id % 10 = 0),
         |near AS (
         |  SELECT n.doc_id,
         |    MIN(bit_count(xor(n.sh_lo, r.sh_lo)) +
         |        bit_count(xor(n.sh_hi, r.sh_hi))) AS mh
         |  FROM wfp n JOIN wfp r ON r.doc_id % 10 <> 0
         |  WHERE n.doc_id % 10 = 0
         |  GROUP BY n.doc_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS exact_dup,
         |  CAST(CASE WHEN near.mh <= 3 THEN 1 ELSE 0 END AS INTEGER) AS near_dup,
         |  CAST(CASE WHEN near.mh <= 3 THEN near.mh ELSE NULL END AS INTEGER)
         |    AS min_ref_hamming
         |FROM documents d
         |LEFT JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near ON near.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 0
         |ORDER BY d.doc_id""".stripMargin,
    // q178: the wide new×all pair list, brute-forced — every ordered
    // pair with the new side (doc_id % 10 = 0) on at least one end and
    // two-half 120-bit hamming <= 3. LEAST/GREATEST normalizes pair
    // order exactly as the Spark side does; NULL fingerprints never
    // qualify (NULL hamming fails the predicate on both engines).
    "q178_simhash_wide_against" ->
      s"""WITH $simHashWideOracleCore
         |SELECT DISTINCT LEAST(n.doc_id, o.doc_id) AS id_a,
         |  GREATEST(n.doc_id, o.doc_id) AS id_b,
         |  CAST(bit_count(xor(n.sh_lo, o.sh_lo)) +
         |       bit_count(xor(n.sh_hi, o.sh_hi)) AS INTEGER) AS hamming
         |FROM wfp n JOIN wfp o ON n.doc_id <> o.doc_id
         |WHERE n.doc_id % 10 = 0
         |  AND bit_count(xor(n.sh_lo, o.sh_lo)) +
         |      bit_count(xor(n.sh_hi, o.sh_hi)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // q106: per-sentence eval-gram overlap; dirty sentences excised,
    // documents reassembled (fully-dirty docs keep a row with n_clean=0)
    "q106_scrub_eval_sentences" ->
      """WITH evg AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(t) - 3),
        |      i -> array_to_string(t[i:i+4], ' '))) AS g
        |    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |          FROM documents WHERE substr(md5(text), 32, 1) < '1')
        |    WHERE len(t) >= 5)),
        |base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\. ') AS parts
        |  FROM documents WHERE text IS NOT NULL),
        |sen AS (
        |  SELECT doc_id, pos, parts[CAST(pos AS INTEGER)] AS s
        |  FROM (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS pos
        |        FROM base)),
        |seng AS (
        |  SELECT doc_id, pos, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM (
        |    SELECT doc_id, pos, unnest(list_transform(range(1, len(st) - 3),
        |      i -> array_to_string(st[i:i+4], ' '))) AS g
        |    FROM (SELECT doc_id, pos, regexp_split_to_array(trim(s), '\s+') AS st
        |          FROM sen)
        |    WHERE len(st) >= 5)),
        |dirty AS (SELECT DISTINCT doc_id, pos FROM seng JOIN evg USING (gh)),
        |clean AS (
        |  SELECT s.doc_id, s.pos, s.s
        |  FROM sen s LEFT JOIN dirty d ON d.doc_id = s.doc_id AND d.pos = s.pos
        |  WHERE d.doc_id IS NULL),
        |re AS (SELECT doc_id, count(*) AS n,
        |              string_agg(s, '. ' ORDER BY pos) AS txt
        |       FROM clean GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(len(b.parts) AS INTEGER) AS n_sentences,
        |  CAST(COALESCE(r.n, 0) AS INTEGER) AS n_clean,
        |  md5(COALESCE(r.txt, '')) AS clean_fp
        |FROM base b LEFT JOIN re r ON r.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // q105: global-first sentence survivorship replayed relationally —
    // row_number over (doc_id, pos), the SAME lexicographic rule as the
    // engine (an encoded doc_id*K+pos argmin would diverge at >= K
    // sentences; DuckDB's 1-based pos is a per-fingerprint-uniform shift
    // that cannot reorder the ranking)
    "q105_sentence_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\. ') AS parts
        |  FROM documents WHERE text IS NOT NULL),
        |occ AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS pos
        |        FROM base),
        |sen AS (SELECT doc_id, pos, parts[CAST(pos AS INTEGER)] AS s
        |        FROM occ),
        |ranked AS (SELECT doc_id, pos, s,
        |             row_number() OVER (PARTITION BY md5(s)
        |                                ORDER BY doc_id, pos) AS rn
        |           FROM sen),
        |kept AS (SELECT doc_id, pos, s FROM ranked WHERE rn = 1),
        |re AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
        |              string_agg(s, '. ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(len(b.parts) AS INTEGER) AS n_sentences,
        |  CAST(COALESCE(r.n_kept, 0) AS INTEGER) AS n_kept,
        |  md5(COALESCE(r.clean_text, '')) AS clean_fp
        |FROM base b LEFT JOIN re r ON r.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // q104: the bloom-pruned plan must produce EXACTLY the broadcast
    // plan's answer (6-grams, eval sample < '1') — same SQL family as q98
    "q104_bloom_decontaminate" ->
      """WITH ev AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE substr(md5(text), 32, 1) < '1'),
        |evg AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(t) - 4),
        |      i -> array_to_string(t[i:i+5], ' '))) AS g
        |    FROM ev WHERE len(t) >= 6)),
        |dg AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
        |  FROM (
        |    SELECT DISTINCT doc_id,
        |      unnest(list_transform(range(1, len(t) - 4),
        |        i -> array_to_string(t[i:i+5], ' '))) AS g
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |          FROM documents)
        |    WHERE len(t) >= 6)),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM dg JOIN evg USING (gh) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_eval_ngram_hits,
        |  CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q50_exact_dup_groups" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q51_exact_dedup" ->
      """WITH f AS (SELECT doc_id, text,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    row_number() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |                       ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, fp FROM f WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q153_containment_pairs" ->
      """WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |              FROM documents WHERE doc_id % 10 = 0),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |         i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        |       FROM docs WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |joined AS (SELECT id_a, id_b, n_inter, sa.set_size AS size_a,
        |           sb.set_size AS size_b
        |         FROM inter
        |         JOIN sizes sa ON sa.doc_id = id_a
        |         JOIN sizes sb ON sb.doc_id = id_b),
        |ordered AS (
        |  SELECT id_a AS sub_id, id_b AS sup_id,
        |    CAST(n_inter AS DOUBLE) / size_a AS containment FROM joined
        |  UNION ALL
        |  SELECT id_b AS sub_id, id_a AS sup_id,
        |    CAST(n_inter AS DOUBLE) / size_b AS containment FROM joined)
        |SELECT sub_id, sup_id, containment FROM ordered
        |WHERE containment >= 0.05
        |ORDER BY sub_id, sup_id""".stripMargin,
    "q52_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |              FROM documents WHERE doc_id % 10 = 0),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |         i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        |       FROM docs WHERE len(toks) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,
    "q54_simhash" ->
      s"""WITH $simHashOracleCore
         |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,
    "q55_simhash_near_dups" ->
      s"""WITH $simHashOracleCore
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "q154_simhash_wide_near_dups" ->
      s"""WITH $simHashWideOracleCore
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh_lo, b.sh_lo)) +
         |       bit_count(xor(a.sh_hi, b.sh_hi)) AS INTEGER) AS hamming
         |FROM wfp a JOIN wfp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh_lo, b.sh_lo)) +
         |      bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // sharded execution shares the unsharded form's oracle — identical
    // result is the operator's contract
    "q159_simhash_wide_sharded" ->
      s"""WITH $simHashWideOracleCore
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh_lo, b.sh_lo)) +
         |       bit_count(xor(a.sh_hi, b.sh_hi)) AS INTEGER) AS hamming
         |FROM wfp a JOIN wfp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh_lo, b.sh_lo)) +
         |      bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // q101's recursive-CTE closure over the WIDE pair list
    "q155_dedup_clusters_wide" -> wideClustersOracle,
    // the sharded execution shares q155's oracle VERBATIM: the q159
    // shard-merge identity composed through the closure — a green row
    // proves sharding moves job geometry only, end to end
    "q167_dedup_clusters_wide_sharded" -> wideClustersOracle
  )

  /** q101/q170 oracle: the recursive-CTE transitive closure over the
    * narrow (60-bit, Hamming ≤ 2) pair list. Shared on purpose — the
    * incremental pipeline's contract is result identity with the batch
    * recompute, so both keys replay the SAME SQL. */
  private def narrowClustersOracle: String =
      s"""WITH RECURSIVE $simHashOracleCore,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src),
         |sizes AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM lbl GROUP BY component)
         |SELECT l.doc_id, l.component, s.cluster_size,
         |  CAST(CASE WHEN l.doc_id = l.component THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM lbl l JOIN sizes s USING (component)
         |ORDER BY doc_id""".stripMargin

  /** q155/q167 oracle: the recursive-CTE transitive closure over the
    * wide (120-bit, Hamming ≤ 3) pair list. Shared on purpose — the
    * sharded pipeline's contract is result identity with the unsharded
    * one, so both keys replay the SAME SQL. */
  private def wideClustersOracle: String =
      s"""WITH RECURSIVE $simHashWideOracleCore,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM wfp a JOIN wfp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh_lo, b.sh_lo)) +
         |        bit_count(xor(a.sh_hi, b.sh_hi)) <= 3),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |lbl AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src),
         |sizes AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM lbl GROUP BY component)
         |SELECT l.doc_id, l.component, s.cluster_size,
         |  CAST(CASE WHEN l.doc_id = l.component THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM lbl l JOIN sizes s USING (component)
         |ORDER BY doc_id""".stripMargin
}
