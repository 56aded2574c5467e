package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Scale notes:
  *  - brute-force top-k broadcasts the (small) query set and streams the
  *    corpus once — no shuffle until the per-query top-k aggregation, and
  *    that shuffle carries only (query_id, neighbor_id, score);
  *  - the LSH variant (random hyperplanes) buckets the corpus so each
  *    query probes ~corpus/2^bits vectors — the 100 TB path;
  *  - dot products are `zip_with` + `aggregate` folds over codegen'd
  *    expressions (left-to-right, deterministic), all math in double.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Run two INDEPENDENT eager model fits as concurrent Spark jobs
    * (guide: overlap independent jobs — actions are only sequential
    * because driver code calls them sequentially). The training collects
    * are driver-side and tiny; the win is overlapping their per-job
    * scheduling + scan floors. Results are deterministic functions of
    * their inputs, so execution order cannot matter. */
  private def par2[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val f1 = Future(fa)
    val f2 = Future(fb)
    (Await.result(f1, Duration.Inf), Await.result(f2, Duration.Inf))
  }

  /** Deterministic index-ascending dot product of two float vectors, in
    * double precision — a native codegen'd Catalyst expression
    * ([[graft.functions.VectorDot]]); same accumulation order as the
    * equivalent zip_with+aggregate fold, ~10× less per-pair overhead. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with a zero-norm guard: a zero vector has no
    * direction, so its similarity to anything is defined as 0 — NOT the
    * raw 0/0 = NaN, which Spark's nan-safe ordering ranks ABOVE every
    * real number (a single zero embedding would top every `desc(cos)`
    * ranking and pass every `cos >= threshold` near-dup filter — and
    * under Spark 4's default ANSI mode the raw division doesn't even
    * get that far: it throws DIVIDE_BY_ZERO mid-job). The guard is
    * `try_divide` (NULL on zero denominator) + `nanvl` (NaN components)
    * + `coalesce` to 0 — all single-evaluation wrappers, NOT a `when`
    * branch: a conditional re-evaluates the norm dot-products in the
    * condition (codegen's subexpression elimination does not cross lazy
    * branches; measured ~1.5× on the sf1 pair scan). Oracles replay raw
    * division because the harness corpus has no zero vectors (kept that
    * way so both forms hash identically). */
  def cosine(a: Column, b: Column): Column =
    coalesce(nanvl(try_divide(dot(a, b), l2Norm(a) * l2Norm(b)), lit(0.0)),
      lit(0.0))

  /** Brute-force cosine top-k: broadcast the query set against the corpus.
    * Baseline for recall evaluation of the approximate variants. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    PqIndex.topKByCos(q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_vec"), col("c_vec"))), k)
  }

  /** Unit-normalize an embedding column (x / ‖x‖, re-cast to float) —
    * the hygiene step that makes L2-metric machinery (PQ codebooks, ADC,
    * IVF Euclidean probes) rank by COSINE: on unit vectors
    * ‖q−c‖² = 2−2·cos, so Euclidean order IS cosine order. q162 measures
    * what skipping this costs on an un-normalized corpus (recall ≈ 0
    * against cosine truth); q163 measures the same stack after this step
    * (≈ 1). Per-row expression math — zero shuffle, normalizes 100 TB as
    * a map pass. Zero-norm vectors are dropped (no direction to keep). */
  def unitNormalize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // one codegen'd pass ([[graft.functions.UnitNormalize]]): the
    // transform-lambda form evaluated the norm dot-product inside the
    // lambda, once per ELEMENT (subexpression elimination does not
    // cross lambda boundaries) — dim² multiplies per row on what is a
    // corpus-wide map stage; values bit-identical (spec-pinned)
    df.filter(col(vecCol).isNotNull && dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol),
        graft.functions.VectorFunctions.unit_normalize(col(vecCol)).as(vecCol))

  /** Recall@k of an approximate top-k against the exact one — THE
    * acceptance metric for every ANN geometry choice (nlist/nprobe, PQ
    * codebook size, LSH bits): both inputs are `(query_id, neighbor_id,
    * …)` rankings, output is one row per query with `n_hit / n_exact`.
    * The denominator is the EXACT side's row count, not `k` — a corpus
    * (or filtered corpus) with fewer than k eligible neighbors must read
    * recall 1.0, not be penalized for rows that don't exist.
    *
    * Scale shape: the join keys on `(query_id, neighbor_id)` and the
    * aggregate on `query_id`, so every shuffle is bounded by
    * |queries|·k — never the corpus. The expensive part at 100 TB is
    * producing the exact side at all, which is why the production
    * protocol runs this over a hash-SAMPLED query set
    * ([[graft.ops.Extended.hashSample]]) against
    * [[bruteForceTopK]] — recall is a corpus property; a deterministic
    * sample of queries estimates it without an all-pairs pass.
    *
    * The approx side is deduplicated on `(query_id, neighbor_id)`
    * before the join: several producers in this library legitimately
    * emit duplicates — the streaming paths document at-least-once
    * redelivery, and a multiprobe candidate can surface twice — and
    * without the distinct each duplicate would multiply the joined
    * exact rows, inflating BOTH `n_exact` and `n_hit` (recall could
    * read > 1.0). The distinct is bounded by |queries|·k rows, so it
    * costs one small shuffle, not a corpus pass. One deliberate edge:
    * a query with ZERO exact-side rows (a corpus with no eligible
    * neighbors at all) has no denominator and emits NO row — recall is
    * undefined there, and silently reporting 1.0 would let an
    * empty-corpus misconfiguration read as perfect; callers wanting
    * per-query presence should left-join this output from their query
    * set. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")).distinct()
          .withColumn("_hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall_at_k"))

  /** Doubling nprobe ladder ending exactly at `nlist`: 1, 2, 4, …,
    * nlist. The last step probes EVERY cell, where the IVF scan
    * degenerates to brute force and pooled recall is 1.0 by
    * construction — so a calibration walking this ladder always
    * reaches any target ≤ 1 (the invariant [[suggestedNprobe]]'s
    * totality rests on). */
  def nprobeLadder(nlist: Int): Seq[Int] = {
    require(nlist >= 1, s"nlist=$nlist must be >= 1")
    (Iterator.iterate(1L)(_ * 2).takeWhile(_ < nlist).map(_.toInt) ++
      Iterator(nlist)).toSeq
  }

  /** THE ladder→recall aggregation every `*RecallCurve` collapses into:
    * `exactWithStep` is one row per EXACT top-k pair carrying
    * `first_step` — the smallest ladder value at which that pair is a
    * hit (null = never). Cross-join the tiny ladder, ONE groupBy on the
    * step, done: pooled BIGINT hit/exact totals with one double
    * division at the end (integer-exact until the final op, identical
    * across engines/partitionings — a mean of per-query double recalls
    * would not be).
    *
    * Why per-pair first_step is ENOUGH — the true-top-k subset-rank
    * argument all three curves lean on: every approximate family here
    * ranks its candidates by the SAME total order as the exact side
    * (desc cos, asc neighbor_id — or its rank-equivalent fixed-point
    * ADC form), so an EXACT top-k pair has fewer than k corpus rows
    * ahead of it globally, hence fewer than k ahead of it in ANY
    * candidate subset — once it is a candidate it is ALWAYS inside the
    * approximate top-k, at every deeper step. Hit(step) therefore
    * reduces to first_step <= step, and the |ladder| separate
    * search+recall plans (72 shuffles for the r12 shortlist ladder)
    * collapse to one candidate pass + this one aggregation.
    * (The argument is about exact-side pairs ONLY — a non-top-k
    * candidate can be pushed out as steps deepen, but recall never
    * reads those rows.) */
  private[sim] def recallLadderAgg(exactWithStep: DataFrame, ladder: Seq[Int],
      stepCol: String): DataFrame = {
    val spark = exactWithStep.sparkSession
    import spark.implicits._
    exactWithStep.crossJoin(broadcast(ladder.toDF(stepCol)))
      .groupBy(stepCol)
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("first_step") <= col(stepCol), 1L).otherwise(0L))
          .as("n_hit"))
      .select(col(stepCol), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Materialize a calibration ladder (≤ ~16 rows of four numbers) to a
    * LocalRelation and RELEASE the exact-set checkpoint blocks it was
    * computed from. The curve functions checkpoint their brute-force
    * exact leaf so it evaluates once across the two references in the
    * ladder plan; a lazily-returned curve would pin those blocks for
    * the session, and repeated calibrations (re-sizing after appends,
    * sweeping k) would accumulate orphans. The ladder itself is
    * calibration state, never corpus rows — eager is the honest cost. */
  private[sim] def materializeLadder(curve: DataFrame,
      exactLeaf: DataFrame): DataFrame = {
    val spark = curve.sparkSession
    val rows = curve.collect()
    org.apache.spark.sql.graft.GraftBridge.unpersistLeaf(exactLeaf)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), curve.schema)
  }

  /** THE ladder sizing rule every `suggested*` shares: the smallest step
    * of `curve` (a materialized `*RecallCurve`) whose pooled recall@k
    * reaches `targetRecall`, or None when no step does. The target is
    * checked before the curve is computed. */
  private[sim] def smallestStepReaching(curve: => DataFrame, stepCol: String,
      targetRecall: Double): Option[Int] = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall=$targetRecall must be in (0, 1]")
    val qualifying = curve.collect()
      .filter(_.getAs[Double]("recall") >= targetRecall)
      .map(_.getAs[Int](stepCol))
    if (qualifying.isEmpty) None else Some(qualifying.min)
  }

  /** Pooled recall@k of the IVF probe at each ladder step — the
    * RECALL-side companion of the cost-side sizing rules
    * ([[IvfIndex.suggestedNlist]], [[suggestedLshBits]],
    * `Skew.suggestedAsofBucketWidth`). Those keep the scan bounded as
    * the corpus grows; this one prices what a given scan fraction
    * (nprobe/nlist) BUYS — measured on this corpus, not assumed from
    * geometry. The brute-force exact ranking (the expensive part — at
    * scale run it over a hash-SAMPLED query set,
    * [[graft.ops.Extended.hashSample]]: recall is a corpus property a
    * deterministic query sample estimates) is a bounded leaf
    * (|queries|·k rows).
    *
    * Collapsed plan (r13): an exact pair is inside `search(nprobe=np)`
    * iff its neighbor's ASSIGNED cell ranks ≤ np in the query's
    * centroid order (presence ⟹ probed; and presence ⟸ probed by the
    * [[recallLadderAgg]] subset-rank argument — a true top-k pair
    * survives the top-k cut in any probed subset). So the whole curve
    * is: ONE map-side corpus touch to fetch each exact neighbor's cell
    * (broadcast-joined against the |queries|·k exact leaf — the corpus
    * never shuffles), the full per-query centroid ranking
    * ([[IvfIndex.probeRanks]], |queries|·nlist rows, one window), and
    * one ladder aggregation — ~4 shuffles total where the per-step
    * form planned 40. */
  def ivfRecallCurve(model: IvfIndex.Model, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      ladder: Seq[Int], exactPre: Option[DataFrame] = None): DataFrame = {
    require(ladder.nonEmpty && ladder.forall(_ >= 1),
      s"ladder=$ladder must be non-empty, all steps >= 1")
    // `exactPre` lets the caller materialize the brute-force leaf
    // CONCURRENTLY with quantizer training (the two are independent
    // eager jobs — see par2); it must be bruteForceTopK over the same
    // (queries, corpus, k), localCheckpoint'ed
    val exact = exactPre.getOrElse(graft.plans.LeafPlanRegistry.record(
      bruteForceTopK(queries, corpus, idCol, vecCol, k)).localCheckpoint())
    val assigned = model.cells
      .select(col(idCol).as("neighbor_id"), col("cell"))
      .join(broadcast(exact.select("query_id", "neighbor_id")),
        Seq("neighbor_id"))
    // min() over duplicate corpus ids (several assignment rows for one
    // neighbor) — hit as soon as ANY copy's cell is probed, matching
    // recallAtK's distinct-before-join discipline
    val firstStep = assigned
      .join(broadcast(
          IvfIndex.probeRanks(model.centroids, queries, idCol, vecCol)
            .select("query_id", "cell", "probe_rank")),
        Seq("query_id", "cell"))
      .groupBy("query_id", "neighbor_id")
      .agg(min(col("probe_rank")).as("first_step"))
    materializeLadder(recallLadderAgg(
      exact.select("query_id", "neighbor_id")
        .join(broadcast(firstStep), Seq("query_id", "neighbor_id"),
          "left_outer"),
      ladder, "nprobe"), exact)
  }

  /** The recall-side sizing rule itself: the smallest ladder step whose
    * pooled recall@k on `queries` reaches `targetRecall`. Total by the
    * [[nprobeLadder]] invariant (the nprobe = nlist step is exact
    * search, recall 1.0). The collect is the ladder table — at most
    * log₂(nlist)+1 rows of four numbers, model-sized calibration
    * state, never corpus rows. Protocol at scale: calibrate once on a
    * hash-sampled query set, then serve the full query stream at the
    * returned nprobe (q168 pins the curve AND the choice
    * cross-engine). */
  def suggestedNprobe(model: IvfIndex.Model, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      targetRecall: Double): Int =
    smallestStepReaching(ivfRecallCurve(model, queries, corpus, idCol,
        vecCol, k, nprobeLadder(model.nlist)), "nprobe", targetRecall)
      // totality holds only when pooled recall is well-defined: an EMPTY
      // query set (or a corpus with no eligible neighbors) yields an
      // empty curve and no step qualifies. Name the misconfiguration.
      .getOrElse(throw new IllegalArgumentException(
        "no nprobe step qualifies — the query set is empty or has no " +
          "eligible neighbors (pooled recall undefined); the rule is only " +
          "total over a non-empty calibration query set"))

  /** Pooled recall@k of the multi-table LSH stack at each table count
    * 1..maxTables — [[ivfRecallCurve]]'s sibling for the OR-amplified
    * family. ONE candidate scan at `maxTables` band families (tbl rides
    * through [[lshCandidateScan]]) — band families 0..L-1 are EXACTLY
    * the families `lshTopKTables(tables = L)` keys on, so each pair's
    * min(tbl) pins the full per-step candidate membership without
    * re-scanning the corpus per step (see [[recallLadderAgg]] for why
    * membership alone decides recall). The ladder is linear, not
    * doubling: L is small by contract (≤ 16) and cost is linear in L.
    * Unlike the nprobe ladder there is NO exactness endpoint — more
    * tables never lose recall (candidate sets are nested; spec'd) but
    * nothing guarantees 1.0 at any L, which is why
    * [[suggestedLshTables]] is partial. */
  def lshRecallCurve(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, bits: Int, maxTables: Int,
      multiprobe: Boolean = true): DataFrame = {
    require(maxTables >= 1 && maxTables <= 16,
      s"maxTables=$maxTables out of [1,16]")
    val exact = graft.plans.LeafPlanRegistry.record(
      bruteForceTopK(queries, corpus, idCol, vecCol, k)).localCheckpoint()
    // collapsed (r13): a pair is in lshTopKTables(L)'s candidate set
    // iff it surfaced in SOME band family < L, and once a TRUE top-k
    // pair is a candidate it survives the exact-cosine top-k cut at
    // every deeper L ([[recallLadderAgg]]'s subset-rank argument) — so
    // its first qualifying table count is min(tbl)+1. Candidates are
    // semi-joined to the EXACT pairs (broadcast, |queries|·k rows)
    // BEFORE the dedup: recall never reads non-top-k pairs, and the
    // restriction keeps every shuffle after the scan exact-sized
    // instead of candidate-sized
    val firstStep = graft.plans.LeafPlanRegistry.record(
        lshCandidateScan(queries, corpus, idCol, vecCol, dim, bits,
          tables = maxTables, multiprobe = multiprobe))
      .join(broadcast(exact.select("query_id", "neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg((min(col("tbl")) + 1).as("first_step"))
    materializeLadder(recallLadderAgg(
      exact.select("query_id", "neighbor_id")
        .join(broadcast(firstStep), Seq("query_id", "neighbor_id"),
          "left_outer"),
      1 to maxTables, "tables"), exact)
  }

  /** The LSH recall-side sizing rule: the smallest table count whose
    * pooled recall@k reaches `targetRecall` — or None when even
    * `maxTables` falls short (no exactness endpoint exists in the LSH
    * family; an honest rule reports that instead of silently returning
    * the best miss — callers escalate to more tables, fewer bits, or
    * the IVF family's total [[suggestedNprobe]]). Collect is the
    * ladder table, ≤ maxTables ≤ 16 rows. */
  def suggestedLshTables(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, bits: Int, maxTables: Int,
      targetRecall: Double): Option[Int] =
    smallestStepReaching(lshRecallCurve(queries, corpus, idCol, vecCol, k,
      dim, bits, maxTables), "tables", targetRecall)

  /** Metadata-filtered vector search — the production serve shape ("top-k
    * among documents matching this tenant / language / date range").
    * PRE-filtering, not post-filtering: the predicate is applied to the
    * corpus BEFORE ranking, so the result always carries exactly `k`
    * neighbors (when the filtered corpus has that many) — a post-filter
    * over an unfiltered top-k would silently return fewer than `k` rows
    * whenever the filter is selective, the classic filtered-ANN recall
    * trap. At scale the predicate is a plain Catalyst filter, so it
    * pushes into the parquet scan (`PushedFilters`) and, when the corpus
    * is stored partitioned by the metadata column, prunes partitions —
    * the scan cost drops WITH selectivity, which brute-force ranking then
    * pays only on the survivors. (For very unselective filters compose
    * with [[lshTopK]]/[[IvfIndex.searchIndexed]] instead: same predicate,
    * bucketed candidate generation.) */
  def filteredTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, candidateFilter: Column): DataFrame =
    bruteForceTopK(queries, corpus.filter(candidateFilter), idCol, vecCol, k)

  /** Random-hyperplane (SimHash-for-vectors) bucket key: sign bits of the
    * vector's projection onto `bits` pseudo-random hyperplanes. The
    * hyperplanes are derived deterministically from xxhash64(plane, dim)
    * mapped to [-1, 1] — no stored model, identical on every executor.
    * Native one-pass codegen expression ([[graft.functions.HyperplaneLshKey]]);
    * the composed `bits × dim` element_at tree it replaces cost seconds of
    * codegen compile alone. */
  def hyperplaneKey(vec: Column, dim: Int, bits: Int): Column =
    graft.functions.VectorFunctions.vec_lsh_key(vec, dim, bits)

  /** LSH-bucketed approximate top-k: corpus and queries are keyed by
    * hyperplane signature; each query only scans its bucket. Recall is
    * traded for a ~2^bits fan-in reduction; multiprobe (flipping one bit)
    * recovers near-boundary neighbors. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, bits: Int = 4,
      multiprobe: Boolean = true): DataFrame = {
    // single-table candidates are duplicate-free by construction (a
    // neighbor lives in exactly one bucket per table and multiprobe
    // buckets are distinct XORs), so no dedup stage before the ranking
    PqIndex.topKByCos(lshCandidateScan(queries, corpus, idCol, vecCol, dim,
      bits, tables = 1, multiprobe = multiprobe), k)
  }

  /** THE LSH candidate generation, shared by [[lshTopK]] (tables = 1),
    * [[lshTopKTables]], and the streaming probe
    * (`EventsStream.lshProbeStream`) so the three paths can never
    * desynchronize on band families, multiprobe masks, or null
    * discipline. Both sides key into their `tables` band-family
    * `(tbl, bucket)` slots with ONE posexplode scan each; the query side
    * multiprobe-expands (own bucket + each 1-bit flip); the join
    * self-excludes and scores exact cosine. `broadcastQueries` is true
    * on the batch paths (queries are small by contract) and false from
    * streaming — a stream cannot be broadcast, and the stream-static
    * join wants the corpus static. Output `(query_id, neighbor_id,
    * cos, tbl)`, ids cast long (the state-store key type); duplicates are
    * possible ACROSS tables only — multi-table callers dedup
    * (lshTopKTables' aggregate, the streaming processor's per-neighbor
    * merge). Null ids/vectors drop on both sides: a null id cannot key
    * state and a null vector has no bucket. */
  private[graft] def lshCandidateScan(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, bits: Int, tables: Int,
      multiprobe: Boolean, broadcastQueries: Boolean = true): DataFrame = {
    require(tables >= 1 && tables <= 16, s"tables=$tables out of [1,16]")
    // the long cast below is the state-store key contract — but a cast
    // from a NON-numeric id (string, uuid, …) yields null, and the
    // null-id drop would then silently empty the result while the
    // brute-force paths (which keep the original type) still return
    // rows: a recall comparison would read 0 with no error. Fail loudly
    // instead of relying on cast-to-null-then-filter. Exact-castable
    // numerics stay allowed (warehouse ids often arrive as
    // DECIMAL(p ≤ 18, 0), which casts to long losslessly) — only types
    // whose cast can NULL out are rejected.
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, DecimalType}
    Seq(queries -> "queries", corpus -> "corpus").foreach { case (df, side) =>
      val dt = df.schema(idCol).dataType
      val castsExactly = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType => d.scale == 0 && d.precision <= 18
        case _ => false
      }
      require(castsExactly,
        s"LSH id column '$idCol' on the $side side must cast to long " +
          s"exactly (it keys bucket state as long); got ${dt.simpleString} — " +
          "project a long surrogate id first")
    }
    import graft.functions.VectorFunctions.vec_lsh_key_band
    def keys(vec: Column): Column =
      array((0 until tables).map(t => vec_lsh_key_band(vec, dim, bits, t)): _*)
    val c = corpus
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("c_vec"),
        posexplode(keys(col(vecCol))).as(Seq("tbl", "bucket")))
    val probes = if (multiprobe)
      array((lit(0L) +: (0 until bits).map(b => shiftleft(lit(1L), b))): _*)
    else array(lit(0L))
    val qBase = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("q_vec"))
      .where(col("query_id").isNotNull && col("q_vec").isNotNull)
      .select(col("query_id"), col("q_vec"),
        posexplode(keys(col("q_vec"))).as(Seq("tbl", "bucket0")))
      .select(col("query_id"), col("q_vec"), col("tbl"),
        explode(transform(probes, m => col("bucket0").bitwiseXOR(m))).as("bucket"))
    val q = if (broadcastQueries) broadcast(qBase) else qBase
    // tbl rides along so ladder consumers (lshRecallCurve) can slice a
    // tables-prefix without re-scanning; single-table and typed
    // consumers ignore it (Dataset.as[AnnCandidate] drops extras)
    q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"), col("tbl"))
  }

  /** Multi-table (OR-amplified) LSH top-k: `tables` INDEPENDENT
    * hyperplane families (band offsets of the same deterministic
    * coefficient stream — [[graft.functions.VectorFunctions.vec_lsh_key_band]]),
    * each contributing its bucket(+multiprobe) candidates; the union is
    * deduplicated and exact-cosine ranked. This is the recall knob
    * single-table LSH lacks at scale: [[suggestedLshBits]] holds BUCKET
    * POPULATION constant as the corpus grows, so the fraction of true
    * top-k sharing any one bucket falls with every decade (measured:
    * recall 1.0 → 0.41 → 0.17 at 2k → 20k → 200k with one table) —
    * adding tables multiplies the candidate pool by ~L while each
    * table's bucket stays constant-sized, recovering recall at cost
    * linear in L (the standard E2LSH/FAISS `IndexLSH` trade).
    *
    * Scale shape: the corpus is scanned ONCE, posexplode keying each
    * vector into its L (table, bucket) slots; queries (small by
    * contract) broadcast with their multiprobe expansion; the only
    * shuffle is the candidate dedup, bounded by |queries|·L·bucket —
    * never the corpus. */
  def lshTopKTables(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, bits: Int = 4, tables: Int = 2,
      multiprobe: Boolean = true): DataFrame = {
    PqIndex.topKByCos(
      lshCandidateScan(queries, corpus, idCol, vecCol, dim, bits, tables, multiprobe)
        // dedup across tables/probes BEFORE ranking: a pair's cosine is
        // the same wherever it surfaced, so max() is pure dedup
        .groupBy("query_id", "neighbor_id")
        .agg(max(col("cos")).as("cos")), k)
  }

  /** `bits` sizing for the LSH pair scans: per-bucket population is
    * ~corpus/2^bits and the within-bucket pair scan is quadratic in it,
    * so hold bucket size constant as the corpus grows —
    * bits ≈ log₂(corpus / targetBucket), clamped to [1, 24]. The sf1
    * soak measured exactly this effect: fixed bits=4 at 10× corpus →
    * 6-8× pair-scan cost (BASELINE.md round 9). */
  def suggestedLshBits(corpusSize: Long, targetBucket: Long = 1024L): Int = {
    // corpusSize 0 (empty table) sizes like corpus 1: any geometry
    // yields the same empty pair set, and throwing here would crash a
    // query that should just return no rows
    require(corpusSize >= 0 && targetBucket > 0)
    if (corpusSize == 0) return 1
    // smallest b in [1, 24] with targetBucket·2^b ≥ corpus — the integer
    // form of ceil(log₂(corpus/targetBucket)). Integer on purpose: a SQL
    // oracle can replay the identical choice from its own count(*), with
    // no floating-log rounding edge at exact powers of two (q143 does
    // exactly that). Division + bit length rather than a shift search:
    // `targetBucket << b` would overflow (silently clamping to 24 — the
    // maximal pair scan) for a huge targetBucket, the argument direction
    // that should SHRINK bits.
    val q = (corpusSize - 1) / targetBucket + 1 // ceil(corpus/target), ≥ 1
    val b = 64 - java.lang.Long.numberOfLeadingZeros(q - 1) // smallest b: 2^b ≥ q
    math.min(24, math.max(1, b))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (pairs in different buckets are missed — the standard
    * recall/cost trade; raise `bits` for cost, lower for recall; size
    * it with [[suggestedLshBits]] as the corpus grows). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bits: Int = 4): DataFrame = {
    val keyed = df.select(col(idCol), col(vecCol),
      hyperplaneKey(col(vecCol), dim, bits).as("bucket"))
    val a = keyed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = keyed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    // no distinct: each vector carries exactly ONE bucket key, so the
    // bucket equi-join can emit a given (id_a, id_b) at most once — a
    // dedup pass here would add a full shuffle of the pair set for
    // nothing (same meet-at-most-once argument semanticDecontaminate
    // documents for its cell join)
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** OR-amplified (banded) LSH near-dup pairs — [[cosineNearDupPairs]]
    * with `bands` INDEPENDENT hyperplane families: a pair is a candidate
    * if it collides in ANY band, so recall amplifies as
    * 1-(1-p^bits)^bands while per-band buckets stay corpus-sized (pass
    * `bits = suggestedLshBits(n)`). This is the standard banding scheme
    * MinHash-LSH uses, applied to sign-random-projection codes — the
    * knob single-band sizing lacks: adding bands buys recall at linear
    * (not quadratic) cost.
    *
    * Shape: each vector explodes to `bands` (band, bucket) keys (bands
    * draw disjoint plane offsets — [[graft.functions.VectorFunctions
    * .vec_lsh_key_band]]), the self-join keys on (band, bucket) so
    * bands never cross-pollinate, and a final (id_a, id_b) aggregate
    * drops multi-band re-sightings of the same pair. The cosine for a
    * pair colliding in b bands is computed b (≤ bands) times — cheaper
    * than shuffling both 64-float vectors through a pre-cosine distinct,
    * since the post-threshold aggregate only carries surviving near-dup
    * pairs (three narrow columns). */
  def bandedCosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bits: Int, bands: Int = 2): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    // the band stride is 24 planes (vec_lsh_key_band): bits beyond it
    // would silently share planes with the next band, correlating the
    // "independent" families and degrading the OR-amplified recall —
    // fail loudly instead (suggestedLshBits clamps to 24 by design)
    require(bits >= 1 && bits <= 24,
      s"bits must be in [1, 24] (the per-band plane stride), got $bits")
    val keys = array((0 until bands).map(r =>
      graft.functions.VectorFunctions.vec_lsh_key_band(col(vecCol), dim, bits, r)): _*)
    val keyed = df.select(col(idCol), col(vecCol),
      posexplode(keys).as(Seq("band", "bucket")))
    val a = keyed.select(col("band"), col("bucket"),
      col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = keyed.select(col("band"), col("bucket"),
      col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(max(col("cos")).as("cos"))
  }

  /** Hard-negative mining for retrieval training: each query's top-k
    * most-similar NON-duplicate neighbors — similar enough to be hard,
    * excluded if so similar they're the same document (a near-dup
    * "negative" would teach the model to push apart copies). The dup
    * mask is the [[cosineNearDupPairs]] graph; ranking is brute cosine
    * over the query slice (swap in [[lshTopK]]/[[PqIndex]] at corpus
    * scale — the mask logic is unchanged). The anti-join keys on the
    * (query, neighbor) pair, both orientations of the undirected dup
    * pair.
    *
    * CONTRACT — best-effort under heavy masking: the ranking fetches
    * `k + overFetch` candidates per query so a masked row PROMOTES the
    * next candidate instead of shortening the list; a query with more
    * than `overFetch` masked near-dups inside its top-(k+overFetch)
    * therefore returns FEWER than k rows (never wrong rows — the
    * survivors are still the true best non-duplicates among the
    * fetched). Size `overFetch` at the expected per-query duplicate
    * multiplicity of the corpus; an exact guarantee would need the
    * unbounded full ranking, which is the O(corpus) scan this cap
    * exists to avoid. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dupThreshold: Double, dim: Int,
      bits: Int = 2, overFetch: Int = 8): DataFrame = {
    require(overFetch >= 0, s"overFetch must be >= 0, got $overFetch")
    val dups = cosineNearDupPairs(corpus, idCol, vecCol, dim, dupThreshold, bits)
    val mask = dups.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      .unionByName(dups.select(col("id_b").as("query_id"), col("id_a").as("neighbor_id")))
    val fetched = bruteForceTopK(queries, corpus, idCol, vecCol, k + overFetch)
      .join(mask, Seq("query_id", "neighbor_id"), "left_anti")
    PqIndex.topKByCos(fetched, k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
    * corpus scale by confining near-dup discovery to k-means clusters —
    * pairs are only scored WITHIN a cell, so the quadratic term is
    * (corpus/nlist)² per cell instead of corpus², and the corpus is
    * shuffled once (on cell). Within a cell, a vector is dropped when a
    * lower-id vector sits within `threshold` cosine — the deterministic
    * keep-the-canonical rule (the paper keeps a per-group
    * representative; lowest-id is the replayable choice). Returns one
    * row per vector: its cell and whether it survives.
    *
    * The coarse clustering is [[IvfIndex.build]] — deterministic
    * fixed-point Lloyd — so the ENTIRE pass (training included) is
    * replayable by the DuckDB oracle. Cross-cell near-dups are missed
    * by construction: that is SemDeDup's stated recall/cost trade. */
  def semDeDup(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, threshold: Double): DataFrame = {
    val ivf = IvfIndex.build(corpus, idCol, vecCol, nlist)
    val a = ivf.cells.select(col("cell"), col(idCol), col(vecCol).as("vec_a"))
    val b = ivf.cells.select(col("cell"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_b") < col(idCol))
      .filter(cosine(col("vec_a"), col("vec_b")) >= threshold)
      .select(col(idCol)).distinct()
    ivf.cells.select(col(idCol), col("cell"))
      .join(dropped.withColumn("_dropped", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        col("_dropped").isNull.cast("int").as("keep"))
  }

  /** Cluster-balanced sampling: k-means cells as topic strata, an exact
    * deterministic `perCell` bottom-k by content hash inside each — the
    * cluster-then-sample recipe for balancing a skewed corpus (a giant
    * topic cluster contributes the same `perCell` rows as a niche one).
    * One extra window shuffle on top of the [[IvfIndex.build]] pass;
    * the h60 order key makes the within-cell sample uniform and
    * engine-replayable (the q114 discipline, grouped by a TRAINED
    * cluster id instead of a static column). */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, perCell: Int, seed: String = "cbs"): DataFrame = {
    val ivf = IvfIndex.build(corpus, idCol, vecCol, nlist)
    val h = graft.text.TextAnalysis.h60(
      concat(col(idCol).cast("string"), lit(":"), lit(seed)))
    val w = Window.partitionBy("cell").orderBy(asc("_h"), asc(idCol))
    ivf.cells.select(col(idCol), col("cell"), h.as("_h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perCell)
      .select(col(idCol), col("cell"), col("rn"))
  }

  /** Embedding-space decontamination — the SEMANTIC twin of the n-gram
    * eval-leak passes (q98/q104/q106): flag corpus vectors whose cosine
    * to ANY eval-set vector reaches `threshold`, catching paraphrased
    * benchmark leakage that exact/token overlap can't see. Returns one
    * row per contaminated corpus vector: how many eval vectors it
    * matched and the strongest match.
    *
    * Scale shape: the eval set is the SMALL side by construction (a
    * benchmark suite, not the corpus), so its multiprobe expansion is
    * broadcast; the corpus is bucketed by the same [[hyperplaneKey]]
    * and NEVER shuffled — the check is a map-stage bucket-equality
    * join plus one aggregate whose shuffle carries only flagged rows.
    * A (corpus, eval) pair can meet at most once: a corpus vector has
    * ONE bucket and an eval vector's probe buckets (own + each 1-bit
    * flip) are pairwise distinct — no dedup pass needed. Recall follows
    * the LSH trade: cross-bucket-beyond-one-flip pairs are missed;
    * raise `bits` to cut candidate fan-in on big corpora. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double,
      bits: Int = 4, multiprobe: Boolean = true): DataFrame = {
    val key = hyperplaneKey(col(vecCol), dim, bits)
    val c = corpus.select(col(idCol), col(vecCol).as("c_vec"), key.as("bucket"))
    val eBase = evalSet.select(col(idCol).as("eval_id"),
      col(vecCol).as("e_vec"), key.as("bucket0"))
    val probes = if (multiprobe)
      array((lit(0L) +: (0 until bits).map(b => shiftleft(lit(1L), b))): _*)
    else array(lit(0L))
    val e = broadcast(eBase.select(col("eval_id"), col("e_vec"),
      explode(transform(probes, m => col("bucket0").bitwiseXOR(m))).as("bucket")))
    c.join(e, Seq("bucket"))
      .withColumn("cos", cosine(col("c_vec"), col("e_vec")))
      .filter(col("cos") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cos")).as("max_cos"))
  }

  /** Symmetric per-vector int8 quantization — the 4× storage/bandwidth
    * compression step of an embedding corpus. `scale = max|xᵢ| / 127`,
    * `qᵢ = floor(xᵢ/scale + 0.5)` clamped to ±127 (floor-form rounding:
    * identical IEEE ops in Spark and DuckDB, so the bytes are
    * oracle-replayable — `round()` half-mode differs between engines).
    * Two codegen'd one-pass expressions, no shuffle: a pure map-stage
    * full-table rewrite, exactly what a 100 TB embedding store needs.
    *
    * Contract: vectors must be dense and finite — a null element
    * quantizes to byte 0 here but is DROPPED by DuckDB's
    * `array_to_string`, and NaN errors in a DuckDB TINYINT cast, so
    * sparse/NaN inputs break the oracle parity (and are meaningless to
    * quantize anyway). */
  def quantizeEmbeddings(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.{vec_max_abs, vec_quantize_i8}
    df.select(col(idCol), col(vecCol),
        (vec_max_abs(col(vecCol)).cast("double") / lit(127.0)).as("scale"))
      .select(col(idCol), col("scale"),
        vec_quantize_i8(col(vecCol), col("scale")).as("q"))
  }

  /** Per-dimension standardization (z-scoring) of an embedding corpus —
    * the feature-normalization pass before clustering / PCA / cheap
    * linear probes. Means and variances come from `floor(x·10⁹)` /
    * `floor(x²·10⁹)` BIGINT sums, so the aggregation is exact integer
    * math with no float-sum order dependence (the same fixed-point trick
    * as q58/q64); the final mean/std division and the per-element
    * z-score are single IEEE double ops, identical in both engines.
    *
    * Plan shape at scale: one map-side-combining aggregation down to
    * `dim` rows, broadcast back, then a pure map stage — the corpus is
    * read twice but shuffled never. Output z-scores ride as
    * `floor(z·10⁶)` so the result hash-compares exactly.
    *
    * Contract: a constant dimension (variance 0) yields std 0 → NaN
    * z-scores; callers drop such dimensions first (they carry no
    * information to standardize). */
  def standardizeEmbeddings(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val d = df.select(col(idCol), posexplode(col(vecCol)))
      .select(col(idCol), col("pos"), col("col").cast("double").as("x"))
      .withColumn("x_fp", floor(col("x") * 1e9))
      .withColumn("x2_fp", floor(col("x") * col("x") * 1e9))
    // decimal(38,0) sums: x2_fp is ~1e9-scale per row, so a plain BIGINT
    // sum overflows around 1e9-vector corpora per dimension — exactly
    // the design scale; decimal is exact (same labelSum discipline as
    // Dedup's convergence sums) and DuckDB's HUGEINT sum matches
    val stats = d.groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("x_fp").cast("decimal(38,0)")).as("s_fp"),
        sum(col("x2_fp").cast("decimal(38,0)")).as("s2_fp"))
      .withColumn("mean", col("s_fp").cast("double") / (col("n").cast("double") * 1e9))
      .withColumn("std", sqrt(
        col("s2_fp").cast("double") / (col("n").cast("double") * 1e9)
          - col("mean") * col("mean")))
    d.join(broadcast(stats.select("pos", "mean", "std")), Seq("pos"))
      .select(col(idCol), col("pos"),
        floor((col("x") - col("mean")) / col("std") * 1e6).as("z_fp"))
  }

  val queries: Map[String, Q] = Map(
    // per-dimension z-scored embeddings, fixed-point (oracle replays the
    // exact integer sums and IEEE ops)
    "q110_standardize_embeddings" -> { (s, d) =>
      standardizeEmbeddings(Tables(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id", "pos")
    },

    // int8 quantization: scale + md5 of the quantized byte string
    "q103_quantize_embeddings" -> { (s, d) =>
      quantizeEmbeddings(Tables(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          md5(concat_ws(",", col("q").cast("array<string>"))).as("quant_fp"))
        .orderBy("vec_id")
    },

    // vector norms (sanity-checkable scalar math over array columns)
    "q60_embedding_norms" -> { (s, d) =>
      Tables(s, d, "embeddings")
        .select(col("vec_id"), size(col("embedding")).cast("int").as("dim"),
          l2Norm(col("embedding")).as("l2_norm"))
        .orderBy("vec_id")
    },

    // brute-force cosine top-3 for a fixed query subset
    "q61_cosine_topk_brute" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      bruteForceTopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 3)
        .orderBy("query_id", "rnk")
    },

    // pairwise cosine between the first vectors of each label (small n²,
    // exercises the full similarity-matrix shape)
    "q62_cosine_matrix" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings").filter(col("vec_id") < 12)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cos"))
        .orderBy("id_a", "id_b")
    },

    // metadata-filtered vector search: top-3 among candidates whose label
    // passes the predicate (pre-filter semantics — always k survivors;
    // the label filter pushes into the parquet scan, SimilaritySpec
    // asserts PushedFilters)
    "q146_filtered_ann" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      filteredTopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
        k = 3, candidateFilter = col("label").isin(2, 5, 7))
        .orderBy("query_id", "rnk")
    },

    // LSH-bucketed approximate top-k (rows-only: bucket family internal)
    "q63_ann_lsh_topk" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      lshTopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
        k = 3, dim = 64, bits = 4)
        .orderBy("query_id", "rnk")
    },

    // IVF ANN: Lloyd coarse quantizer + nprobe cell scan. FULLY
    // hash-checked: the quantizer's init is the cross-engine h60 sample,
    // its centroid updates are fixed-point long sums, and every distance
    // is a bit-stable IEEE fold — so the DuckDB oracle REPLAYS THE WHOLE
    // TRAINING LOOP (three unrolled Lloyd iterations as CTEs) and then
    // the probe/scan, reproducing the identical top-k.
    "q65_ann_ivf_topk" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val model = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
      IvfIndex.search(model, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, nprobe = 3)
        .orderBy("query_id", "rnk")
    },

    // recall@k of the q65 IVF probe against the q61 exact ranking — the
    // ANN acceptance metric as a first-class, oracle-checked query (the
    // nlist=8/nprobe=3 geometry's recall becomes a pinned NUMBER, not a
    // claim; drop nprobe and this row is the one that moves)
    "q160_ann_recall" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val model = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
      recallAtK(
        IvfIndex.search(model, queries, "vec_id", "embedding", k = 3, nprobe = 3),
        bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
        .orderBy("query_id")
    },

    // the same metric over the LSH stack (q63's bits=4 geometry) — LSH
    // can return FEWER than k per query on bucket misses; the exact-side
    // denominator charges those as missed recall, which is the honest
    // reading of an empty bucket
    "q161_ann_recall_lsh" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      recallAtK(
        lshTopK(queries, emb, "vec_id", "embedding", k = 3, dim = 64, bits = 4),
        bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
        .orderBy("query_id")
    },

    // and over the PQ-ADC stack (q133's m=4/ksub=8 codebook): recall
    // against TRUE cosine ranking, so the number prices quantization
    // loss itself, not just candidate pruning. MEASURED 0.0-0.11 on the
    // harness embeddings — an un-normalized corpus ranked by
    // approximate L2 barely agrees with cosine top-3 (and re-ranking an
    // L2 shortlist can't recover neighbors it never contained): q163
    // pins the fix — normalize, then size the codebook and shortlist
    "q162_ann_recall_pq" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 6)
      val cb = PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8)
      val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
      recallAtK(
        PqIndex.searchADC(cb, codes, queries, "vec_id", "embedding", k = 3),
        bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
        .orderBy("query_id")
    },

    // q162's other half: the PQ serve stack SIZED FOR COSINE —
    // unit-normalized corpus (ADC's Euclidean order is cosine order on
    // unit vectors), a production-grade codebook (m=8/ksub=16 vs q133's
    // deliberately coarse m=4/ksub=8), ADC shortlist 100, q139's exact
    // re-rank. The pinned pair (q162 0.0-0.11 raw/coarse, q163
    // 0.78-0.94 across SFs normalized/sized) is the measured case for normalize-then-PQ with
    // a shortlist sized against quantizer coarseness. The oracle
    // replays normalization as an `embeddings`-shadowing CTE around the
    // full train/encode/ADC/re-rank machinery at the same geometry.
    "q163_ann_recall_pq_rerank" -> { (s, d) =>
      val unit = unitNormalize(Tables(s, d, "embeddings"), "vec_id", "embedding")
      val queries = unit.filter(col("vec_id") < 6)
      val cb = PqIndex.train(unit, "vec_id", "embedding", m = 8, ksub = 16)
      val codes = PqIndex.encode(unit, "vec_id", "embedding", cb)
      recallAtK(
        PqIndex.searchAdcRerank(cb, codes, unit, queries,
          "vec_id", "embedding", k = 3, shortlist = 100),
        bruteForceTopK(queries, unit, "vec_id", "embedding", k = 3))
        .orderBy("query_id")
    },

    // Multi-table (OR-amplified) LSH top-k (r12): three independent
    // band families each vote their bucket+multiprobe candidates; the
    // union is deduplicated and exact-cosine ranked. The recall knob
    // single-table LSH lacks once suggestedLshBits holds bucket size
    // constant at scale — see [[lshTopKTables]].
    "q164_ann_lsh_multitable" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      lshTopKTables(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
        k = 3, dim = 64, bits = 4, tables = 3)
        .orderBy("query_id", "rnk")
    },

    // recall@k of the multi-table stack against the q61 exact ranking —
    // the q161 counterpart: what L=3 tables buy back over one table at
    // the same bits becomes a pinned, oracle-checked number
    "q165_ann_recall_lsh_multitable" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      recallAtK(
        lshTopKTables(queries, emb, "vec_id", "embedding", k = 3, dim = 64,
          bits = 4, tables = 3),
        bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
        .orderBy("query_id")
    },

    // IVF geometry SIZED TO THE CORPUS (r12): nlist = suggestedNlist
    // (≈√n — the q143 discipline applied to the IVF family) with an
    // init-only quantizer, profiled per cell. The oracle rederives the
    // SAME nlist from its own count(*), picks the SAME h60 init sample
    // via a windowed rank (no literal LIMIT — the whole geometry is
    // dynamic), and reassigns every vector with NearestCell's exact
    // arithmetic — a green hash proves the sizing rule cross-engine at
    // whatever SF the driver runs.
    "q166_ann_ivf_sized" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val nlist = IvfIndex.suggestedNlist(emb.count())
      val model = IvfIndex.build(emb, "vec_id", "embedding", nlist, maxIter = 0)
      model.cells.groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
        .orderBy("cell")
    },

    // the MAINTENANCE member of the sizing family (r14): cell-occupancy
    // skew of a persisted index after an appended DRIFTED batch (the
    // corpus translated by +4 per element — frozen centroids pile it
    // into the cells facing the shift; negation is NOT drift on this
    // origin-symmetric corpus), plus the retrain trigger in-plan.
    // The operator reads ONLY parquet footers (per-cell counts over the
    // partition column — spec-pinned empty ReadSchema); the oracle
    // replays the training loop, both assignments (double-centroid
    // corpus, REAL-rounded append), and the exact count arithmetic.
    "q180_ann_occupancy_skew" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val model = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
      val path = graft.FsUtil.indexScratchDir("q180", d)
      IvfIndex.save(model, path)
      IvfIndex.append(s, path,
        emb.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(4.0f)).as("embedding")),
        "vec_id", "embedding")
      IvfIndex.occupancyStats(s, path)
        .withColumn("reindex",
          (col("imbalance") > 1.5).cast("int"))
    },

    // the RECALL-side sizing rule, oracle-checked (r12): the nprobe
    // ladder's pooled recall@k on the q160 geometry, with the chosen
    // row = suggestedNprobe's pick (min step reaching 0.9 — total
    // because the nprobe = nlist step IS exact search, recall 1.0).
    // The oracle replays the whole calibration: one training replay,
    // one probe ranking at full ladder depth, per-step prefix slices,
    // pooled BIGINT-sum recall, the same min-step choice. The chosen
    // flag is computed IN-PLAN (single-row min broadcast), so a green
    // hash pins both the curve and the decision cross-engine.
    "q168_ann_nprobe_sized" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      // quantizer training and the brute-force exact leaf are
      // independent eager jobs — overlap them. Build + record the leaf
      // DF on THIS thread (LeafPlanRegistry is ThreadLocal by contract —
      // record on a pool thread would strand the pushdown evidence);
      // only the eager localCheckpoint goes to the future.
      val exactDf = graft.plans.LeafPlanRegistry.record(
        bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
      val (model, exact) = par2(
        IvfIndex.build(emb, "vec_id", "embedding", nlist = 8),
        exactDf.localCheckpoint())
      val curve = ivfRecallCurve(model, queries, emb, "vec_id", "embedding",
        k = 3, ladder = nprobeLadder(8), exactPre = Some(exact))
      val chosen = curve.filter(col("recall") >= 0.9)
        .agg(min("nprobe").as("_chosen"))
      curve.crossJoin(broadcast(chosen))
        .select(col("nprobe"), col("n_exact"), col("n_hit"), col("recall"),
          (col("nprobe") === col("_chosen")).cast("int").as("chosen"))
        .orderBy("nprobe")
    },

    // q168's sibling for the OR-amplified LSH family (r12): the table
    // ladder's pooled recall@k with the suggestedLshTables choice.
    // ONE candidate scan at maxTables=4 band families, each step
    // slicing its tbl < L prefix (families 0..L-1 ARE lshTopKTables(L)'s
    // key set). Unlike q168 no step is guaranteed exact, so the chosen
    // flag can be all-zero — coalesced to 0 on both sides, which is the
    // honest "no L qualifies, escalate" answer, not an error.
    "q169_ann_lsh_tables_sized" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val curve = lshRecallCurve(queries, emb, "vec_id", "embedding",
        k = 3, dim = 64, bits = 4, maxTables = 4)
      val chosen = curve.filter(col("recall") >= 0.9)
        .agg(min("tables").as("_chosen"))
      curve.crossJoin(broadcast(chosen))
        .select(col("tables"), col("n_exact"), col("n_hit"), col("recall"),
          coalesce((col("tables") === col("_chosen")).cast("int"), lit(0))
            .as("chosen"))
        .orderBy("tables")
    },

    // the PQ member of the recall-sizing family (r12): q168 sizes
    // nprobe, q169 sizes LSH tables, this sizes the ADC shortlist — the
    // knob the 2M-vector soak showed must track the candidate pool
    // (shortlist 100 → recall 0.08 there). The ladder doubles from k
    // and ends EXACTLY at the corpus count, whose step reranks every
    // ADC candidate with exact cosines — brute force by construction —
    // so unlike q169's partial rule this one is TOTAL: chosen always
    // exists. ONE ADC ranking + ONE exact scoring, prefix-sliced.
    "q171_ann_shortlist_sized" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 6)
      // three independent eager pieces — codebook training, the corpus
      // count for the ladder endpoint, the brute exact leaf — overlap.
      // Record the leaf plan on THIS thread (ThreadLocal registry);
      // only the eager localCheckpoint runs on the pool.
      val exactDf = graft.plans.LeafPlanRegistry.record(
        bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
      val (cb, (n, exact)) = par2(
        PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8),
        par2(emb.count(), exactDf.localCheckpoint()))
      val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
      val ladder = PqIndex.shortlistLadder(3, n)
      val curve = PqIndex.shortlistRecallCurve(cb, codes, emb, queries,
        "vec_id", "embedding", k = 3, ladder, exactPre = Some(exact))
      val chosen = curve.filter(col("recall") >= 0.9)
        .agg(min("shortlist").as("_chosen"))
      curve.crossJoin(broadcast(chosen))
        .select(col("shortlist"), col("n_exact"), col("n_hit"), col("recall"),
          coalesce((col("shortlist") === col("_chosen")).cast("int"), lit(0))
            .as("chosen"))
        .orderBy("shortlist")
    },

    // IVF with SAMPLE-trained quantizer (r11): the Lloyd loop fits on a
    // deterministic 4/16 hash-sample of the corpus — at 100 TB each
    // training iteration was a full-corpus pass buying nothing a sample
    // doesn't — while the final cell assignment and the probe/scan
    // still cover every vector. The oracle replays the sample with one
    // WHERE clause on the same md5 rule, then the whole loop as usual.
    "q157_ann_ivf_sampled" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val model = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8,
        trainSixteenths = 4)
      IvfIndex.search(model, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, nprobe = 3)
        .orderBy("query_id", "rnk")
    },

    // PQ with SAMPLE-trained codebooks (r11): same discipline as q157 —
    // the per-subspace Lloyd loop reads the 4/16 hash-sample; encode
    // and the ADC scan still cover the full corpus.
    "q158_ann_pq_sampled" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val cb = PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8,
        trainSixteenths = 4)
      val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
      PqIndex.searchADC(cb, codes, emb.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rnk")
    },

    // embedding dedup clusters: the q66 near-dup pair graph closed into
    // components by Dedup.connectedComponents — operators COMPOSE (the
    // clustering step is the same one the text pipeline uses in q101);
    // the oracle chains the LSH-bucket replay into a recursive closure
    "q123_embedding_clusters" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings").filter(col("vec_id") < 1000)
      val pairs = cosineNearDupPairs(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.2, bits = 2).select("id_a", "id_b")
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("vec_id"), col("component"), col("cluster_size"),
          col("keep").cast("int").as("keep"))
        .orderBy("vec_id")
    },

    // semantic decontamination: eval slice (vec_id % 23 == 0) probed
    // against the rest of the corpus via LSH buckets + exact cosine
    "q131_semantic_decontaminate" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      semanticDecontaminate(
        emb.filter(col("vec_id") % 23 =!= 0),
        emb.filter(col("vec_id") % 23 === 0),
        "vec_id", "embedding", dim = 64, threshold = 0.2, bits = 2)
        .orderBy("vec_id")
    },

    // product quantization: train m=4 sub-quantizers (ksub=8, 2 Lloyd
    // rounds), compress the corpus to 4 codes/vector, ADC top-k scan for
    // the query slice. FULLY hash-checked: the oracle replays the whole
    // per-subspace training loop, the encode, and the fixed-point ADC
    // distance sums (see PqIndex Scaladoc for the determinism contract).
    "q133_ann_pq_adc" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val cb = PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8)
      val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
      PqIndex.searchADC(cb, codes, emb.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rnk")
    },

    // IVF∘PQ: the q65 coarse quantizer picks nprobe cells, the q133
    // codes pay the per-pair cost — the production ANN serve layout
    // (FAISS IndexIVFPQ, by_residual=false), with BOTH training loops
    // replayed by the oracle plus the probe ranking and the
    // cell-restricted fixed-point ADC scan.
    "q134_ann_ivfpq" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      // the coarse quantizer and the PQ codebook are independent fits
      // over the same corpus — overlap their training jobs
      val (ivf, cb) = par2(
        IvfIndex.build(emb, "vec_id", "embedding", nlist = 8),
        PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8))
      PqIndex.searchIvfAdc(ivf, cb, emb.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .orderBy("query_id", "rnk")
    },

    // RESIDUAL IVF∘PQ (r12): q134's layout with by_residual=true — PQ
    // trained and encoded on x − centroid(cell), per-probed-cell
    // distance tables, and the |q−c|² term added back (it is NOT
    // constant per query here, so dropping it would break cross-cell
    // comparability). The oracle replays BOTH training loops, the
    // residual computation (float subtraction against the served
    // centroids), the residual PQ train/encode, the per-(query, cell)
    // tables, and the corrected fixed-point sum.
    "q173_ann_ivfpq_residual" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val ivf = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
      val cb = PqIndex.trainResidual(ivf, "vec_id", "embedding",
        m = 4, ksub = 8)
      PqIndex.searchIvfAdcResidual(ivf, cb, emb.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .orderBy("query_id", "rnk")
    },

    // the CLUSTERED-corpus generator, cross-engine-proven (r13): every
    // element of every synthesized vector is pinned per vector through
    // two exact per-element floats plus the fixed-point squared norm —
    // the md5-lattice centers, the cell assignment, and the one
    // float-producing division all replay bit for bit in DuckDB. This
    // is the q166 discipline applied to the GENERATOR: the 20k→2M
    // clustered ladder corpora (tools/GenVecs `clustered` mode) are
    // written by this exact expression, so the measured residual-PQ /
    // recall-curve evidence stands on a proven fixture, not an assumed
    // one.
    "q174_clustered_fixture" -> { (s, d) =>
      val ids = Tables(s, d, "embeddings").select("vec_id")
      val v = Synthetic.clusteredEmbedding(col("vec_id"), dim = 64,
        k = 200, seed = 77L, noiseMilli = 300)
      ids.select(col("vec_id"),
          Synthetic.clusterCell(col("vec_id"), k = 200, seed = 77L).as("cell"),
          v.as("_v"))
        .select(col("vec_id"), col("cell"),
          element_at(col("_v"), 1).as("e1"),
          element_at(col("_v"), 33).as("e33"),
          floor(dot(col("_v"), col("_v")) * lit(1e9)).cast("long").as("norm_fp"))
        .orderBy("vec_id")
    },

    // OPQ-style rotation before PQ (r13): the seeded orthogonal
    // rotation ([[PqIndex.seededRotation]] — sign∘Hadamard∘permutation,
    // every entry ±1/8 at dim 64, float-exact) applied to corpus AND
    // queries, then the UNCHANGED q133 stack: PQ train, encode, flat
    // fixed-point ADC. The oracle embeds the same 64×64 literal matrix
    // (the LSH-coefficient replay discipline), rebuilds the rotated
    // relation with the index-ascending fold, and replays the whole
    // training loop over it — a green hash pins rotation + PQ
    // composition end to end.
    "q175_ann_opq" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val rot = PqIndex.seededRotation(64, seed = 7L)
      val r = PqIndex.rotate(emb, "vec_id", "embedding", rot)
      val cb = PqIndex.train(r, "vec_id", "embedding", m = 4, ksub = 8)
      val codes = PqIndex.encode(r, "vec_id", "embedding", cb)
      PqIndex.searchADC(cb, codes, r.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rnk")
    },

    // TRAINED OPQ rotation (r14): one full alternation of the FAISS
    // OPQMatrix loop — seeded rotation, PQ fit in the rotated space,
    // orthogonal-Procrustes update R = polar(Cᵀ) via a fixed-count
    // Newton–Schulz iteration over fixed-point cross-covariance
    // statistics — then retrain + flat ADC under the trained rotation.
    // The oracle replays EVERYTHING from the data: both Lloyd fits,
    // the BIGINT sufficient statistics, all 60 NS matrix iterations
    // (index-ascending folds), the float rounding, and the final
    // fixed-point ADC ranking — a green hash pins the trainer itself
    // cross-engine, not just its application.
    "q177_ann_opq_trained" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val (rot, cb) = PqIndex.trainOpq(emb, "vec_id", "embedding",
        m = 8, ksub = 16, opqIters = 1, nsIters = 60, rotSeed = 7L)
      val r = PqIndex.rotate(emb, "vec_id", "embedding", rot)
      val codes = PqIndex.encode(r, "vec_id", "embedding", cb)
      PqIndex.searchADC(cb, codes, r.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rnk")
    },

    // the FULL FAISS pretransform chain (r13): OPQ rotation → coarse
    // IVF → residual PQ (`IndexPreTransform(OPQMatrix,
    // IndexIVFPQ(by_residual=true))`). Rotation is orthogonal, so the
    // IVF geometry and residual structure live in the rotated space
    // consistently; the oracle is q173's full replay with every vector
    // relation redirected to the rotated CTE — one green hash pins the
    // three-stage composition end to end.
    "q176_ann_opq_ivfpq_residual" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val rot = PqIndex.seededRotation(64, seed = 7L)
      val r = PqIndex.rotate(emb, "vec_id", "embedding", rot)
      val ivf = IvfIndex.build(r, "vec_id", "embedding", nlist = 8)
      val cb = PqIndex.trainResidual(ivf, "vec_id", "embedding",
        m = 4, ksub = 8)
      PqIndex.searchIvfAdcResidual(ivf, cb, r.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .orderBy("query_id", "rnk")
    },

    // SQ8 scalar quantization (r14): per-dimension trained [min,max]
    // ranges, one byte per coordinate (4× smaller than float32), FAISS
    // Codec8bit encode/decode arithmetic, fixed-point asymmetric scan.
    // The oracle replays the range training (one min/max aggregation),
    // the encode, the half-step reconstruction, and the exact long
    // ranking — a green hash pins the whole quantizer cross-engine.
    "q184_ann_sq8" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val m = SqIndex.train(emb, "vec_id", "embedding")
      val codes = SqIndex.encode(emb, "vec_id", "embedding", m)
      SqIndex.searchSqAdc(m, codes, emb.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rnk")
    },

    // IVF∘SQ8 (r14): FAISS IndexIVFScalarQuantizer — the q65 coarse
    // quantizer picks nprobe cells, SQ8 byte codes pay the per-pair
    // cost. Oracle = the IVF training replay composed with the q184
    // range/encode/scan replay, restricted to the probed cells.
    "q185_ann_ivfsq" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      // independent fits (coarse quantizer ⊥ SQ ranges) — overlap them
      val (ivf, m) = par2(
        IvfIndex.build(emb, "vec_id", "embedding", nlist = 8),
        SqIndex.train(emb, "vec_id", "embedding"))
      SqIndex.searchIvfSq(ivf, m, emb.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .orderBy("query_id", "rnk")
    },

    // binary quantization two-stage serve (r14): sign bits against the
    // fixed-point per-dimension means (1 bit/dim — 32× compression at
    // dim 64), hamming shortlist, exact-cosine re-rank. The oracle
    // replays the mean training, the bit packing, the XOR+popcount
    // ranking, and the re-rank — all four stages under one hash.
    "q186_ann_binary" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val means = SqIndex.binaryMeans(emb, "vec_id", "embedding")
      val bcodes = SqIndex.encodeBinary(emb, "vec_id", "embedding", means)
      SqIndex.searchBinaryRerank(means, bcodes, emb,
        emb.filter(col("vec_id") < 6), "vec_id", "embedding",
        k = 3, shortlist = 10)
        .orderBy("query_id", "rnk")
    },

    // the binary member of the recall-sizing family (r14): doubling
    // hamming-shortlist ladder ending exactly at the corpus count —
    // that step re-ranks everything, brute force by construction, so
    // the rule is TOTAL like the ADC one. One hamming ranking + one
    // ladder aggregation (the r13 collapse; the re-rank stage shares
    // the exact total order, so hit(s) ≡ hamming_rank ≤ s). The oracle
    // replays the ladder from its own count(*), the full hamming
    // ranking, every per-step re-rank, and the 0.9 choice.
    "q187_ann_binary_shortlist_sized" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val means = SqIndex.binaryMeans(emb, "vec_id", "embedding")
      val bcodes = SqIndex.encodeBinary(emb, "vec_id", "embedding", means)
      val queries = emb.filter(col("vec_id") < 6)
      val ladder = PqIndex.shortlistLadder(3, emb.count())
      val curve = SqIndex.binaryRecallCurve(means, bcodes, emb, queries,
        "vec_id", "embedding", k = 3, ladder)
      val chosen = curve.filter(col("recall") >= 0.9)
        .agg(min("shortlist").as("_chosen"))
      curve.crossJoin(broadcast(chosen))
        .select(col("shortlist"), col("n_exact"), col("n_hit"), col("recall"),
          coalesce((col("shortlist") === col("_chosen")).cast("int"), lit(0))
            .as("chosen"))
        .orderBy("shortlist")
    },

    // two-stage ANN serve: 10-deep ADC shortlist, exact cosine re-rank
    // of only those rows — both stages replayed by the oracle
    "q139_pq_rerank" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val cb = PqIndex.train(emb, "vec_id", "embedding", m = 4, ksub = 8)
      val codes = PqIndex.encode(emb, "vec_id", "embedding", cb)
      PqIndex.searchAdcRerank(cb, codes, emb, emb.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3, shortlist = 10)
        .orderBy("query_id", "rnk")
    },

    // hard-negative mining: top-3 most-similar NON-duplicate neighbors
    // per query (near-dups masked via the LSH pair graph); both the
    // ranking and the mask replay in the oracle
    "q142_hard_negatives" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      hardNegatives(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
        k = 3, dupThreshold = 0.2, dim = 64, bits = 2)
        .orderBy("query_id", "rnk")
    },

    // cluster-balanced sampling: trained k-means cells as topic strata,
    // exact h60 bottom-k inside each — the cluster-then-sample corpus
    // balance recipe, training loop replayed by the oracle
    "q135_cluster_balanced_sample" -> { (s, d) =>
      clusterBalancedSample(Tables(s, d, "embeddings"),
        "vec_id", "embedding", nlist = 8, perCell = 5)
        .orderBy("vec_id")
    },

    // SemDeDup: within-cluster semantic near-dup removal (lowest-id
    // survivor); the full pass — Lloyd training included — replays in
    // the oracle
    "q136_semdedup" -> { (s, d) =>
      semDeDup(Tables(s, d, "embeddings"),
        "vec_id", "embedding", nlist = 8, threshold = 0.2)
        .orderBy("vec_id")
    },

    // embedding-cosine near-dup pairs: corpus-sized bits (per-band
    // buckets stay ~256 as the corpus grows — the q143 geometry) AND
    // 2-band OR-amplification (recall the single-band sizing gives up).
    // The r9 sf1 soak measured the fixed-bits version of this query at
    // 14.9× for 10× data (quadratic in-bucket pair scan); sized banding
    // holds the scan linear. The count() is one metadata-cheap aggregate.
    "q66_embedding_near_dups" -> { (s, d) =>
      // synthetic embeddings are near-orthogonal (random): 0.2 is already
      // a strong-similarity threshold there; real corpora would use ~0.9
      val emb = Tables(s, d, "embeddings")
      val bits = suggestedLshBits(emb.count(), targetBucket = 256L)
      bandedCosineNearDupPairs(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.2, bits = bits, bands = 2)
        .orderBy("id_a", "id_b")
    },

    // the CosineJoinRewrite optimizer rule, exercised through the gate:
    // the query is written as the NAIVE cross join + cosine threshold;
    // session confs arm the rewrite, which turns it into the LSH
    // equi join. The oracle is the BUCKETED answer — if the rule failed
    // to fire, the exact plan would return a superset and the hash
    // compare would fail, so a green q67 proves the plan surgery ran.
    // The rule reads the confs at OPTIMIZATION time (i.e. lazily, when
    // the caller executes the plan), so they can't be unset here — the
    // plan is built on a CHILD session (own SessionState, conf, and
    // extraOptimizations) instead, leaving the shared session's
    // optimizer untouched for every other query.
    "q67_cosine_rewrite" -> { (s, d) =>
      val s2 = s.newSession()
      graft.plans.CosineJoinRewrite.ensureRegistered(s2)
      val emb0 = Tables(s2, d, "embeddings")
      // corpus-sized bits for the rewrite's injected bucket key, same
      // sizing rule as q66/q143 — the conf is the deployment knob, so
      // sizing it from count() is exactly what a production caller does
      s2.conf.set(graft.plans.CosineJoinRewrite.BitsConf,
        suggestedLshBits(emb0.count(), targetBucket = 256L).toString)
      s2.conf.set(graft.plans.CosineJoinRewrite.DimConf, "64")
      val a = emb0.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = emb0.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      a.join(b, col("id_a") < col("id_b") &&
          cosine(col("vec_a"), col("vec_b")) >= lit(0.2))
        .select(col("id_a"), col("id_b"),
          cosine(col("vec_a"), col("vec_b")).as("cos"))
        .orderBy("id_a", "id_b")
    },

    // the corpus-sized-bits variant of q66: bits = suggestedLshBits(n)
    // computed FROM the input, so per-bucket population (and the
    // quadratic within-bucket pair scan) stays ~constant as the corpus
    // grows — the geometry the fixed-bits q66/q67 can't prove. The
    // count() is one metadata-cheap aggregate scan, the same
    // bounded-driver-read class as IVF's centroid collect.
    "q143_lsh_sized_near_dups" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val bits = suggestedLshBits(emb.count(), targetBucket = 256L)
      cosineNearDupPairs(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.2, bits = bits)
        .orderBy("id_a", "id_b")
    },

    // centroid per label (mean vector — the classic cluster summary).
    // Cross-engine exactness via fixed-point quantization BEFORE the sum:
    // floor(x·1e9) longs add exactly and order-independently in both
    // engines, and the norm arithmetic downstream is the same IEEE double
    // operation sequence on both sides — no float-sum-order or
    // decimal-rounding divergence left to leak into the hash compare.
    "q64_label_centroid_norm" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val dims = 64
      val sums = (0 until dims).map(i =>
        sum(floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e9))
          .cast("long")).as(s"s_$i"))
      emb.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sums: _*)
        .select(col("label"), col("n_vecs"),
          sqrt((0 until dims).map { i =>
            val m = col(s"s_$i").cast("double") / (col("n_vecs").cast("double") * lit(1e9))
            m * m
          }.reduce(_ + _)).as("centroid_norm"))
        .orderBy("label")
    }
  )

  val oracles: Map[String, String] = Map(
    // q110: the identical fixed-point sums (DuckDB SUM(BIGINT) is
    // HUGEINT, hence the casts back) and the same IEEE op order for
    // mean, std, and the z-score
    "q110_standardize_embeddings" ->
      """WITH d AS (
        |  SELECT vec_id, CAST(pos - 1 AS INTEGER) AS pos,
        |    embedding[CAST(pos AS INTEGER)]::DOUBLE AS x
        |  FROM (SELECT vec_id, embedding,
        |          unnest(range(1, len(embedding) + 1)) AS pos
        |        FROM embeddings)),
        |q AS (SELECT vec_id, pos, x,
        |    CAST(floor(x * 1e9) AS BIGINT) AS x_fp,
        |    CAST(floor(x * x * 1e9) AS BIGINT) AS x2_fp
        |  FROM d),
        |st AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x_fp) AS BIGINT) AS s_fp,
        |    CAST(sum(x2_fp) AS BIGINT) AS s2_fp
        |  FROM q GROUP BY pos),
        |st2 AS (SELECT pos,
        |    CAST(s_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) AS mean,
        |    sqrt(CAST(s2_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)
        |      - (CAST(s_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9))
        |        * (CAST(s_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9))) AS std
        |  FROM st)
        |SELECT q.vec_id, q.pos,
        |  CAST(floor((q.x - st2.mean) / st2.std * 1e6) AS BIGINT) AS z_fp
        |FROM q JOIN st2 USING (pos)
        |ORDER BY vec_id, pos""".stripMargin,
    // q103: float max-abs (kept FLOAT until the one double cast, like the
    // Spark expression), floor-form rounding, clamp, byte-string md5
    "q103_quantize_embeddings" ->
      """WITH m AS (SELECT vec_id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
        |      / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  md5(array_to_string(list_transform(embedding, x ->
        |    CAST(CAST(CASE WHEN scale > 0
        |      THEN GREATEST(-127, LEAST(127, floor(x / scale + 0.5)))
        |      ELSE 0 END AS TINYINT) AS VARCHAR)), ',')) AS quant_fp
        |FROM m ORDER BY vec_id""".stripMargin,
    "q60_embedding_norms" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
        |  sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
        |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q61_cosine_topk_brute" -> q61Oracle,
    // recall joins the two rankings each oracle already replays — both
    // sides nest as subqueries, so a green hash proves the metric over
    // the SAME two result sets the q61/q65 rows verify individually
    "q160_ann_recall" ->
      recallOracle(ivfProbeOracle(samplePred = None), q61Oracle),
    "q161_ann_recall_lsh" -> recallOracle(q63Oracle, q61Oracle),
    "q164_ann_lsh_multitable" -> q164Oracle,
    "q165_ann_recall_lsh_multitable" -> recallOracle(q164Oracle, q61Oracle),
    "q166_ann_ivf_sized" -> q166Oracle,
    "q168_ann_nprobe_sized" -> q168Oracle,
    "q169_ann_lsh_tables_sized" -> q169Oracle,
    "q171_ann_shortlist_sized" -> q171Oracle,
    "q173_ann_ivfpq_residual" -> q173Oracle,
    // the clustered-generator proof: md5-lattice centers + integer
    // fixed-point noise, one float division per element — replayed
    // element-exactly (e1/e33 as REAL) plus the fixed-point norm over
    // all 64 elements
    "q174_clustered_fixture" ->
      """WITH c AS (SELECT vec_id,
        |    CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':c:77'), 1, 15) AS BIGINT)
        |      % 200 AS INTEGER) AS cell
        |  FROM embeddings),
        |v AS (SELECT vec_id, cell,
        |    list_transform(range(0, 64), j -> CAST((
        |      (CAST('0x' || substr(md5('ctr:77:' || CAST(cell AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000) * 1000
        |      + (CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':n:77:' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000) * 300
        |    ) / 1000000.0 AS REAL)) AS emb
        |  FROM c)
        |SELECT vec_id, cell, emb[1] AS e1, emb[33] AS e33,
        |  CAST(floor(list_aggregate(list_transform(emb,
        |    x -> x::DOUBLE * x::DOUBLE), 'sum') * 1e9) AS BIGINT) AS norm_fp
        |FROM v ORDER BY vec_id""".stripMargin,
    "q175_ann_opq" -> q175Oracle,
    "q177_ann_opq_trained" -> q177Oracle,
    "q180_ann_occupancy_skew" -> q180Oracle,
    "q184_ann_sq8" -> q184Oracle,
    "q185_ann_ivfsq" -> q185Oracle,
    "q186_ann_binary" -> q186Oracle,
    "q187_ann_binary_shortlist_sized" -> q187Oracle,
    "q176_ann_opq_ivfpq_residual" ->
      q173OracleFrom(srcRel = "rotrel", pre = rotrelCtes(7L) + ",\n"),
    "q162_ann_recall_pq" ->
      recallOracle(q133Oracle, bruteOracle("vec_id < 6", 3)),
    "q163_ann_recall_pq_rerank" ->
      overUnitNormalized(recallOracle(
        q139OracleWith(shortlist = 100, m = 8, ksub = 16),
        bruteOracle("vec_id < 6", 3))),
    "q146_filtered_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_aggregate(list_transform(range(1, len(q.q_vec) + 1),
        |      i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum') /
        |    (sqrt(list_aggregate(list_transform(range(1, len(q.q_vec) + 1),
        |      i -> q.q_vec[i]::DOUBLE * q.q_vec[i]::DOUBLE), 'sum')) *
        |     sqrt(list_aggregate(list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum'))) AS cos
        |  FROM q, embeddings e
        |  WHERE e.label IN (2, 5, 7) AND e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
        |  FROM pairs)
        |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    "q62_cosine_matrix" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 12)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_aggregate(list_transform(range(1, len(a.embedding) + 1),
        |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum') /
        |  (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
        |    i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), 'sum')) *
        |   sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
        |    i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum'))) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q64_label_centroid_norm" -> q64Oracle,
    "q123_embedding_clusters" -> q123Oracle,
    "q63_ann_lsh_topk" -> q63Oracle,
    "q65_ann_ivf_topk" -> q65Oracle,
    "q157_ann_ivf_sampled" ->
      ivfProbeOracle(Some("substr(md5(CAST(vec_id AS VARCHAR)), 32, 1) < '4'")),
    "q158_ann_pq_sampled" -> q158Oracle,
    "q66_embedding_near_dups" -> q66Oracle,
    "q131_semantic_decontaminate" -> q131Oracle,
    "q133_ann_pq_adc" -> q133Oracle,
    "q134_ann_ivfpq" -> q134Oracle,
    "q135_cluster_balanced_sample" -> q135Oracle,
    "q139_pq_rerank" -> q139Oracle,
    "q142_hard_negatives" -> q142Oracle,
    "q136_semdedup" -> q136Oracle,
    // q67 must produce exactly the LSH-bucketed answer (see the query's
    // comment: a green hash proves the optimizer rewrite fired)
    // q67 injects ONE sized bucket key (the rewrite adds a single
    // equi-pair, not bands), so its expected answer is exactly q143's
    // single-band sized geometry — sharing the oracle makes the two
    // independent paths (optimizer rule vs API) prove each other
    "q67_cosine_rewrite" -> q143Oracle,
    "q143_lsh_sized_near_dups" -> q143Oracle
  )

  /** q64 oracle: mirrors the fixed-point centroid exactly — floor(x·1e9)
    * BIGINT sums (order-independent), then the identical double divide /
    * square / left-associated add chain. DuckDB SUM(BIGINT) is HUGEINT,
    * hence the explicit casts back. */
  private def q64Oracle: String = {
    val dims = 64
    val sums = (0 until dims).map(i =>
      s"CAST(SUM(CAST(floor(embedding[${i + 1}]::DOUBLE * 1e9) AS BIGINT)) AS BIGINT) AS s_$i")
      .mkString(",\n    ")
    val terms = (0 until dims).map(i =>
      s"(CAST(s_$i AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e9)) * " +
        s"(CAST(s_$i AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e9))")
      .mkString(" +\n    ")
    s"""WITH s AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |    $sums
       |  FROM embeddings GROUP BY label)
       |SELECT label, n_vecs, sqrt($terms) AS centroid_norm
       |FROM s ORDER BY label""".stripMargin
  }

  /** Shared oracle scaffolding: hyperplane-coefficient CTEs + the bucket
    * expression, with the deterministic coefficient matrix embedded as
    * double literals (see [[q66Oracle]]). */
  private def lshOracleCtes(dim: Int, bits: Int, prefix: String = "c",
      planeOffset: Int = 0): (String, String, String) = {
    def coefs(p: Int): String = (0 until dim).map { i =>
      java.lang.Double.toString(
        (org.apache.spark.sql.catalyst.expressions.XXH64
          .hashInt((planeOffset + p) * 7919 + i, 42L) % 10007L).toDouble / 10007.0)
    }.mkString("[", ", ", "]")
    val ctes = (0 until bits).map(p =>
      s"$prefix$p AS (SELECT ${coefs(p)}::DOUBLE[] AS v)").mkString(",\n")
    val bucket = (0 until bits).map(p =>
      s"""(CASE WHEN list_aggregate(list_transform(range(1, ${dim + 1}),
         |      i -> e.embedding[i]::DOUBLE * $prefix$p.v[i]), 'sum') > 0
         |    THEN ${1 << p} ELSE 0 END)""".stripMargin).mkString(" +\n    ")
    (ctes, bucket, (0 until bits).map(p => s"$prefix$p").mkString(", "))
  }

  /** Bits-gated bucket expression over the `prefix`-named plane CTEs —
    * plane p contributes 2^p only when `p < bb.bits`, so the oracle
    * replays whatever bits the Spark side derived from its count. */
  private def gatedBucketSql(dim: Int, maxBits: Int, prefix: String): String =
    (0 until maxBits).map(p =>
      s"""(CASE WHEN $p < bb.bits AND list_aggregate(list_transform(range(1, ${dim + 1}),
         |      i -> e.embedding[i]::DOUBLE * $prefix$p.v[i]), 'sum') > 0
         |    THEN ${1L << p} ELSE 0 END)""".stripMargin).mkString(" +\n    ")

  private def cosSql(a: String, b: String, dim: Int): String =
    s"""list_aggregate(list_transform(range(1, ${dim + 1}),
       |      i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum') /
       |    (sqrt(list_aggregate(list_transform(range(1, ${dim + 1}),
       |      i -> $a[i]::DOUBLE * $a[i]::DOUBLE), 'sum')) *
       |     sqrt(list_aggregate(list_transform(range(1, ${dim + 1}),
       |      i -> $b[i]::DOUBLE * $b[i]::DOUBLE), 'sum')))""".stripMargin

  /** q143 oracle: replay the CORPUS-SIZED geometry end to end in SQL.
    * `bits` is recomputed from the oracle's own count(*) with the same
    * integer rule as [[suggestedLshBits]] (smallest b in [1,24] with
    * target·2^b ≥ n — no floating log on either side), and the bucket
    * key is the 24-plane literal-coefficient matrix with each plane
    * GATED on `p < bits`, so whatever bits the Spark side derived at
    * this scale factor, the oracle derives — and buckets with — the
    * same. A green hash therefore proves the resized geometry, not one
    * pinned bits value. */
  private def q143Oracle: String = {
    val dim = 64; val maxBits = 24; val target = 256L
    val (ctes, _, tables) = lshOracleCtes(dim, maxBits)
    val gatedBucket = gatedBucketSql(dim, maxBits, "c")
    s"""WITH $ctes,
       |n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM embeddings),
       |bb AS (SELECT COALESCE((SELECT MIN(t.p) FROM range(1, 25) t(p), n
       |    WHERE (${target}::BIGINT << t.p) >= n.cnt), 24) AS bits),
       |k AS (SELECT e.vec_id, e.embedding,
       |    $gatedBucket AS bucket
       |  FROM embeddings e, $tables, bb),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding", dim)} AS cos
       |  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.2
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q63 oracle: bucket all vectors with the literal coefficient matrix,
    * expand each query to its multiprobe set (own bucket + 1-bit flips),
    * then rank candidates exactly as the Spark plan does. */
  private def q63Oracle: String = {
    val dim = 64; val bits = 4
    val (ctes, bucket, tables) = lshOracleCtes(dim, bits)
    val masks = (0L +: (0 until bits).map(b => 1L << b)).mkString("[", ", ", "]")
    s"""WITH $ctes,
       |k AS (SELECT e.vec_id, e.embedding,
       |    $bucket AS bucket
       |  FROM embeddings e, $tables),
       |q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket AS b0
       |  FROM k WHERE vec_id < 8),
       |probes AS (SELECT query_id, q_vec, xor(b0::BIGINT, t.m) AS bucket
       |  FROM q, unnest($masks::BIGINT[]) AS t(m)),
       |cand AS (SELECT p.query_id, k.vec_id AS neighbor_id,
       |    ${cosSql("p.q_vec", "k.embedding", dim)} AS cos
       |  FROM probes p JOIN k ON k.bucket::BIGINT = p.bucket
       |    AND k.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q164 oracle: the multi-table lshTopKTables plan in SQL — L
    * independent band families (plane offsets t·24 of the same
    * deterministic coefficient stream, exactly `vec_lsh_key_band`),
    * each with the multiprobe expansion, candidates union-DISTINCTed
    * across tables, then exact-cosine ranked. */
  private def q164Oracle: String = {
    val dim = 64; val bits = 4; val tables = 3; val k = 3
    val per = (0 until tables).map(t =>
      t -> lshOracleCtes(dim, bits, s"t${t}c", planeOffset = t * 24))
    val allCtes = per.map(_._2._1).mkString(",\n")
    val masks = (0L +: (0 until bits).map(b => 1L << b)).mkString("[", ", ", "]")
    val kCtes = per.map { case (t, (_, bucket, tabs)) =>
      s"""k$t AS (SELECT e.vec_id, $bucket AS bucket
         |  FROM embeddings e, $tabs)""".stripMargin
    }.mkString(",\n")
    val candCtes = (0 until tables).map { t =>
      s"""c$t AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM k$t q, unnest($masks::BIGINT[]) AS m(m), k$t c
         |  WHERE q.vec_id < 8 AND c.bucket::BIGINT = xor(q.bucket::BIGINT, m.m)
         |    AND c.vec_id <> q.vec_id)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until tables).map(t => s"SELECT * FROM c$t").mkString(" UNION ALL ")
    s"""WITH $allCtes,
       |$kCtes,
       |$candCtes,
       |cand AS (SELECT DISTINCT query_id, neighbor_id FROM ($unions)),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |    ${cosSql("qe.embedding", "ne.embedding", dim)} AS cos
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings ne ON ne.vec_id = cand.neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q169 oracle: the table-LADDER replay — q164's L independent band
    * families built once (tagged by table index), each ladder step
    * union-DISTINCTs its `tbl < L` prefix, exact-cosine ranks, takes
    * top-k, and joins the brute truth for pooled recall; the chosen row
    * is the min step reaching 0.9 — possibly NONE (no exactness
    * endpoint in the LSH family), in which case every chosen flag is 0
    * on both engines. Mirrors [[Similarity.lshRecallCurve]] /
    * [[Similarity.suggestedLshTables]] step for step. */
  private def q169Oracle: String = {
    val dim = 64; val bits = 4; val maxTables = 4; val k = 3; val target = 0.9
    val per = (0 until maxTables).map(t =>
      t -> lshOracleCtes(dim, bits, s"t${t}c", planeOffset = t * 24))
    val allCtes = per.map(_._2._1).mkString(",\n")
    val masks = (0L +: (0 until bits).map(b => 1L << b)).mkString("[", ", ", "]")
    val kCtes = per.map { case (t, (_, bucket, tabs)) =>
      s"""k$t AS (SELECT e.vec_id, $bucket AS bucket
         |  FROM embeddings e, $tabs)""".stripMargin
    }.mkString(",\n")
    val candCtes = (0 until maxTables).map { t =>
      s"""c$t AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM k$t q, unnest($masks::BIGINT[]) AS m(m), k$t c
         |  WHERE q.vec_id < 8 AND c.bucket::BIGINT = xor(q.bucket::BIGINT, m.m)
         |    AND c.vec_id <> q.vec_id)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until maxTables)
      .map(t => s"SELECT $t AS tbl, query_id, neighbor_id FROM c$t")
      .mkString(" UNION ALL ")
    val ladder = (1 to maxTables).mkString("[", ", ", "]")
    s"""WITH $allCtes,
       |$kCtes,
       |$candCtes,
       |cand_all AS ($unions),
       |steps AS (SELECT unnest($ladder) AS tables),
       |cand AS (SELECT DISTINCT s.tables, ca.query_id, ca.neighbor_id
       |  FROM steps s JOIN cand_all ca ON ca.tbl < s.tables),
       |scored AS (SELECT cand.tables, cand.query_id, cand.neighbor_id,
       |    ${cosSql("qe.embedding", "ne.embedding", dim)} AS cos
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings ne ON ne.vec_id = cand.neighbor_id),
       |ranked AS (SELECT tables, query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY tables, query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |  FROM scored),
       |approx AS (SELECT tables, query_id, neighbor_id FROM ranked WHERE rnk <= $k),
       |brute AS (SELECT * FROM (${bruteOracle("vec_id < 8", k)})),
       |j AS (
       |  SELECT s.tables, b.query_id, b.neighbor_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM steps s CROSS JOIN brute b
       |  LEFT JOIN approx a ON a.tables = s.tables
       |    AND a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
       |curve AS (
       |  SELECT tables, CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(SUM(hit) AS BIGINT) AS n_hit,
       |    CAST(SUM(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |  FROM j GROUP BY tables)
       |SELECT tables, n_exact, n_hit, recall,
       |  CAST(CASE WHEN tables = (SELECT min(tables) FROM curve WHERE recall >= $target)
       |    THEN 1 ELSE 0 END AS INTEGER) AS chosen
       |FROM curve ORDER BY tables""".stripMargin
  }

  /** q166 oracle: corpus-SIZED IVF geometry replayed end to end — nlist
    * is floor(sqrt(count(*))) computed by the oracle itself (the
    * integer-exact region of [[IvfIndex.suggestedNlist]]: these corpus
    * sizes sit far below the 65536 cap and a correctly-rounded double
    * sqrt floors to the true isqrt for any count < 2^52), the init
    * sample is the nl lowest-h60 rows via a windowed rank (no literal
    * LIMIT — the whole geometry is dynamic), and every vector assigns
    * to its nearest INIT centroid with NearestCell's exact arithmetic
    * (the q65-proven fold). */
  private def q166Oracle: String = {
    val dim = 64; val seed = 42L; val up = dim + 1
    def dotVC(v: String, c: String) =
      s"list_aggregate(list_transform(range(1, $up), i -> $v[i]::DOUBLE * $c[i]), 'sum')"
    def normC(c: String) =
      s"list_aggregate(list_transform($c, x -> x * x), 'sum')"
    s"""WITH nl AS (
       |  SELECT CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS INTEGER) AS nl
       |  FROM embeddings),
       |h AS (SELECT vec_id, embedding,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':$seed'), 1, 15) AS BIGINT) AS h
       |  FROM embeddings),
       |r AS (SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY h, vec_id) AS rn FROM h),
       |c_0 AS (SELECT CAST(r.rn AS INTEGER) - 1 AS cell,
       |    list_transform(embedding, x -> x::DOUBLE) AS c
       |  FROM r, nl WHERE r.rn <= nl.nl),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${normC("c.c")} - 2.0 * ${dotVC("e.embedding", "c.c")}) ASC,
       |                 c.cell ASC) AS rn
       |    FROM embeddings e CROSS JOIN c_0 c) WHERE rn = 1)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  min(vec_id) AS min_id, max(vec_id) AS max_id
       |FROM cells GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** q65 oracle: replay IVF end to end in DuckDB — init sample, three
    * unrolled Lloyd iterations, final assignment, float-rounded
    * centroids, probe ranking, top-k scan.
    *
    * Every arithmetic step mirrors the Spark side bit for bit:
    *  - init: the `nlist` lowest `h60(id:seed)` vectors, row_number order;
    *  - assignment distance `|c|² − 2v·c` with double centroids, both
    *    folds index-ascending (`NearestCell`'s loops ≡ list_aggregate);
    *    ties → lowest cell (row_number tie-break);
    *  - centroid update: `floor(x·1e9)` BIGINT sums (exact,
    *    order-independent), then the same long→double divide chain;
    *    empty cells keep the previous centroid (LEFT JOIN + CASE);
    *  - the served model rounds centroids to FLOAT (`Model.centroids`),
    *    so probe distances cast through REAL exactly like `vec_dot` on
    *    the float arrays;
    *  - top-k: cosine rank within probed cells, same tie-break.
    *
    * `samplePred` (q157) restricts the TRAINING relation — init sample
    * and Lloyd iterations — to the rows matching the predicate, exactly
    * mirroring `trainSixteenths` on the Spark side; the final cell
    * assignment and the probe/scan still run over the full corpus. */
  private def q65Oracle: String = ivfProbeOracle(samplePred = None)

  /** Brute-force top-k replay over an arbitrary query predicate — the
    * exact side of every recall composition (q160-q162) and, at
    * `("vec_id < 8", 3)`, q61's oracle verbatim. */
  private def bruteOracle(pred: String, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE $pred),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    list_aggregate(list_transform(range(1, len(q.q_vec) + 1),
       |      i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum') /
       |    (sqrt(list_aggregate(list_transform(range(1, len(q.q_vec) + 1),
       |      i -> q.q_vec[i]::DOUBLE * q.q_vec[i]::DOUBLE), 'sum')) *
       |     sqrt(list_aggregate(list_transform(range(1, len(e.embedding) + 1),
       |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum'))) AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM pairs)
       |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  private def q61Oracle: String = bruteOracle("vec_id < 8", 3)

  /** Wraps a full oracle in an `embeddings`-SHADOWING CTE holding the
    * unit-normalized corpus: every `FROM embeddings` inside `sql`
    * (itself nested as a subquery, so outer CTEs stay in scope)
    * resolves to the normalized relation — [[unitNormalize]] replayed
    * with the identical double-divide-then-REAL-cast arithmetic and the
    * identical zero-norm drop. */
  private def overUnitNormalized(sql: String): String = {
    val sq = "list_aggregate(list_transform(embedding, " +
      "y -> y::DOUBLE * y::DOUBLE), 'sum')"
    // main.embeddings: DuckDB reads a same-named CTE over the base
    // relation as circular unless the schema is explicit
    s"""SELECT * FROM (
       |WITH embeddings AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(x::DOUBLE / sqrt($sq) AS REAL)) AS embedding
       |  FROM main.embeddings WHERE $sq > 0.0)
       |SELECT * FROM ($sql))""".stripMargin
  }

  /** The shared recall-over-two-replays composition (q160-q162): both
    * rankings nest as subqueries, the metric joins them. */
  private def recallOracle(approxSql: String, exactSql: String): String =
    s"""WITH brute AS (SELECT * FROM ($exactSql)),
       |approx AS (SELECT * FROM ($approxSql)),
       |j AS (
       |  SELECT b.query_id, b.neighbor_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM brute b LEFT JOIN approx a
       |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id)
       |SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(hit) AS BIGINT) AS n_hit,
       |  CAST(SUM(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_k
       |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin

  // index-ascending double fold of v·c (v float column, c double list) —
  // shared by the IVF replays (ivfTrainCtes, probe/ladder oracles)
  private def ivfDotVC(v: String, c: String, dim: Int): String =
    s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> $v[i]::DOUBLE * $c[i]), 'sum')"
  private def ivfNormC(c: String): String =
    s"list_aggregate(list_transform($c, x -> x * x), 'sum')"

  /** The IVF TRAINING replay shared by the probe oracle (q65/q157/
    * q160-family) and the nprobe-ladder oracle (q168): init sample +
    * 3 unrolled Lloyd iterations + final full-corpus assignment
    * (`cells`) + REAL-rounded served centroids (`cf`). Returned WITHOUT
    * the leading WITH so callers append their own probe/ranking CTEs. */
  private def ivfTrainCtes(samplePred: Option[String]): String = {
    val nlist = 8; val maxIter = 3; val dim = 64; val seed = 42L
    val trainSrc = if (samplePred.isDefined) "train" else "embeddings"
    val trainCte = samplePred
      .map(p => s"train AS (SELECT vec_id, embedding FROM embeddings WHERE $p),\n")
      .getOrElse("")
    def dotVC(v: String, c: String) = ivfDotVC(v, c, dim)
    def normC(c: String) = ivfNormC(c)
    val sums = (0 until dim).map(i =>
      s"CAST(SUM(CAST(floor(embedding[${i + 1}]::DOUBLE * 1e9) AS BIGINT)) AS BIGINT) AS s_$i")
      .mkString(",\n      ")
    val centroidList = (0 until dim).map(i =>
      s"CAST(s.s_$i AS DOUBLE) / CAST(s.n AS DOUBLE) / 1e9").mkString(", ")
    // one Lloyd iteration: assign with c_{k-1}, re-sum, keep previous on empty
    def iteration(kIt: Int): String =
      s"""a_$kIt AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${normC("c.c")} - 2.0 * ${dotVC("e.embedding", "c.c")}) ASC,
         |                 c.cell ASC) AS rn
         |    FROM $trainSrc e CROSS JOIN c_${kIt - 1} c) WHERE rn = 1),
         |s_$kIt AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |      $sums
         |  FROM a_$kIt GROUP BY cell),
         |c_$kIt AS (
         |  SELECT p.cell,
         |    CASE WHEN s.n IS NULL THEN p.c
         |         ELSE [$centroidList] END AS c
         |  FROM c_${kIt - 1} p LEFT JOIN s_$kIt s ON s.cell = p.cell)""".stripMargin
    val iterations = (1 to maxIter).map(iteration).mkString(",\n")
    s"""${trainCte}c_0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS c
       |  FROM (
       |    SELECT vec_id, embedding,
       |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':$seed'), 1, 15) AS BIGINT) AS h
       |    FROM $trainSrc ORDER BY h, vec_id LIMIT $nlist)),
       |$iterations,
       |cells AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${normC("c.c")} - 2.0 * ${dotVC("e.embedding", "c.c")}) ASC,
       |                 c.cell ASC) AS rn
       |    FROM embeddings e CROSS JOIN c_$maxIter c) WHERE rn = 1),
       |cf AS (
       |  SELECT cell, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS c
       |  FROM c_$maxIter)""".stripMargin
  }

  /** The per-query probe ranking over the served (REAL-rounded)
    * centroids, kept to `maxProbe` ranked cells (pr retained so ladder
    * consumers can slice deeper prefixes without re-ranking). Appends
    * to [[ivfTrainCtes]]. */
  private def ivfProbesCte(maxProbe: Int): String = {
    val dim = 64
    s"""probes AS (
       |  SELECT query_id, q_vec, cell, pr FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_vec, f.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${ivfNormC("f.c")} - 2.0 * ${ivfDotVC("e.embedding", "f.c", dim)}) ASC,
       |                 f.cell ASC) AS pr
       |    FROM embeddings e CROSS JOIN cf f WHERE e.vec_id < 8) WHERE pr <= $maxProbe)""".stripMargin
  }

  private def ivfProbeOracle(samplePred: Option[String]): String = {
    val dim = 64; val k = 3; val nprobe = 3
    s"""WITH ${ivfTrainCtes(samplePred)},
       |${ivfProbesCte(nprobe)},
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${cosSql("p.q_vec", "a.embedding", dim)} AS cos
       |  FROM probes p JOIN cells a ON a.cell = p.cell
       |    AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q168 oracle: the nprobe-LADDER replay — ONE training replay
    * ([[ivfTrainCtes]]), one probe ranking kept to the full ladder
    * depth, then each ladder step slices its `pr <= nprobe` prefix,
    * ranks, takes top-k, and joins the brute-force truth for POOLED
    * (BIGINT-sum) recall; the chosen row is the min step reaching the
    * 0.9 target (total because the nprobe = nlist step replays exact
    * search — recall exactly 1.0). Mirrors
    * [[Similarity.ivfRecallCurve]] / [[Similarity.suggestedNprobe]]
    * semantics step for step. */
  private def q168Oracle: String = {
    val dim = 64; val k = 3; val nlist = 8; val target = 0.9
    val ladder = "[1, 2, 4, 8]"
    s"""WITH ${ivfTrainCtes(None)},
       |${ivfProbesCte(nlist)},
       |cand AS (
       |  SELECT p.query_id, p.pr, a.vec_id AS neighbor_id,
       |    ${cosSql("p.q_vec", "a.embedding", dim)} AS cos
       |  FROM probes p JOIN cells a ON a.cell = p.cell
       |    AND a.vec_id <> p.query_id),
       |steps AS (SELECT unnest($ladder) AS nprobe),
       |ranked AS (
       |  SELECT s.nprobe, c.query_id, c.neighbor_id,
       |    row_number() OVER (PARTITION BY s.nprobe, c.query_id
       |      ORDER BY c.cos DESC, c.neighbor_id ASC) AS rnk
       |  FROM steps s JOIN cand c ON c.pr <= s.nprobe),
       |approx AS (SELECT nprobe, query_id, neighbor_id FROM ranked WHERE rnk <= $k),
       |brute AS (SELECT * FROM (${bruteOracle("vec_id < 8", k)})),
       |j AS (
       |  SELECT s.nprobe, b.query_id, b.neighbor_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM steps s CROSS JOIN brute b
       |  LEFT JOIN approx a ON a.nprobe = s.nprobe
       |    AND a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
       |curve AS (
       |  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(SUM(hit) AS BIGINT) AS n_hit,
       |    CAST(SUM(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |  FROM j GROUP BY nprobe)
       |SELECT nprobe, n_exact, n_hit, recall,
       |  CAST(CASE WHEN nprobe = (SELECT min(nprobe) FROM curve WHERE recall >= $target)
       |    THEN 1 ELSE 0 END AS INTEGER) AS chosen
       |FROM curve ORDER BY nprobe""".stripMargin
  }

  /** q171 oracle: the shortlist-LADDER replay — q133's full ADC ranking
    * built once, a recursive CTE rederiving the SAME doubling ladder
    * from the oracle's own count(*) (the q166 dynamic-geometry
    * discipline: no literal ladder to drift), each step exact-cosine
    * reranking its `adc_rnk ≤ s` prefix, pooled recall against the
    * brute truth, min-step choice at 0.9. The endpoint step reranks
    * every candidate, so its recall row is exactly 1.0 on both engines
    * and the chosen flag always fires somewhere (total rule). */
  private def q171Oracle: String = {
    val dim = 64; val k = 3; val target = 0.9
    s"""WITH RECURSIVE ${pqAdcCtes()},
       |lad(s) AS (
       |  SELECT $k
       |  UNION ALL
       |  SELECT s * 2 FROM lad WHERE s * 2 < (SELECT count(*) FROM embeddings)),
       |steps AS (
       |  SELECT s AS shortlist FROM lad
       |  UNION
       |  SELECT CAST(count(*) AS INTEGER) FROM embeddings),
       |scored AS (
       |  SELECT r.query_id, r.neighbor_id, r.rnk AS adc_rnk,
       |    ${cosSql("qe.embedding", "ne.embedding", dim)} AS cos
       |  FROM ranked r
       |  JOIN embeddings qe ON qe.vec_id = r.query_id
       |  JOIN embeddings ne ON ne.vec_id = r.neighbor_id),
       |rk AS (
       |  SELECT st.shortlist, sc.query_id, sc.neighbor_id,
       |    row_number() OVER (PARTITION BY st.shortlist, sc.query_id
       |      ORDER BY sc.cos DESC, sc.neighbor_id ASC) AS rnk
       |  FROM steps st JOIN scored sc ON sc.adc_rnk <= st.shortlist),
       |approx AS (SELECT shortlist, query_id, neighbor_id FROM rk WHERE rnk <= $k),
       |brute AS (SELECT * FROM (${bruteOracle("vec_id < 6", k)})),
       |j AS (
       |  SELECT st.shortlist, b.query_id, b.neighbor_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM steps st CROSS JOIN brute b
       |  LEFT JOIN approx a ON a.shortlist = st.shortlist
       |    AND a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
       |curve AS (
       |  SELECT shortlist, CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(SUM(hit) AS BIGINT) AS n_hit,
       |    CAST(SUM(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |  FROM j GROUP BY shortlist)
       |SELECT shortlist, n_exact, n_hit, recall,
       |  CAST(CASE WHEN shortlist = (SELECT min(shortlist) FROM curve
       |      WHERE recall >= $target)
       |    THEN 1 ELSE 0 END AS INTEGER) AS chosen
       |FROM curve ORDER BY shortlist""".stripMargin
  }

  /** q173 oracle: residual IVF∘PQ replayed end to end — the q134 replay
    * with `by_residual=true`. After the coarse training (ivfCellsCtes)
    * and the served float centroids (cf), `resrel` materializes every
    * vector's residual as FLOAT subtraction against the served centroid
    * (double−double of exactly-float values CAST REAL == IEEE float
    * subtraction, bit for bit); the PQ train/encode replay runs over
    * `resrel` via pqTrainCtes' srcRel redirect (emitDtab=false — the
    * raw-query dtab is meaningless here). Each (query, probed cell)
    * pair gets its own residual query `rq`, distance table `rdtab`,
    * and the `|q−c|²` fixed-point correction `qn` that raw ADC drops
    * as a per-query constant but residual ADC must add back — the
    * candidate sum is exactly ‖(q−c) − r̂‖² in exact longs. */
  private def q173Oracle: String = q173OracleFrom()

  /** The q173 body with its vector relation redirectable (`srcRel`) and
    * an optional CTE prefix — q176 composes it over the rotated
    * relation (`rotrelCtes` + srcRel = "rotrel"): the full FAISS
    * OPQ+IVFPQ pretransform chain in one replay. */
  private def q173OracleFrom(srcRel: String = "embeddings",
      pre: String = ""): String = {
    val ivfIter = 3; val dim = 64; val k = 3; val nprobe = 3
    val m = 4; val ksub = 8; val dsub = dim / m
    val up = dim + 1
    def dotVC(v: String, c: String) =
      s"list_aggregate(list_transform(range(1, $up), i -> $v[i]::DOUBLE * $c[i]), 'sum')"
    def normC(c: String) =
      s"list_aggregate(list_transform($c, x -> x * x), 'sum')"
    s"""WITH $pre${ivfCellsCtes(nlist = 8, maxIter = ivfIter, dim = dim, seed = 42L, srcRel = srcRel)},
       |cf AS (
       |  SELECT cell, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS c
       |  FROM c_$ivfIter),
       |resrel AS (
       |  SELECT cl.vec_id,
       |    list_transform(range(1, $up),
       |      i -> CAST(cl.embedding[i]::DOUBLE - f.c[i] AS REAL)) AS embedding
       |  FROM cells cl JOIN cf f USING (cell)),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, f.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${normC("f.c")} - 2.0 * ${dotVC("e.embedding", "f.c")}) ASC,
       |                 f.cell ASC) AS pr
       |    FROM $srcRel e CROSS JOIN cf f WHERE e.vec_id < 6) WHERE pr <= $nprobe),
       |${pqTrainCtes("p", srcRel = "resrel", emitDtab = false)},
       |rq AS (
       |  SELECT p.query_id, p.cell,
       |    list_transform(range(1, $up),
       |      i -> CAST(e.embedding[i]::DOUBLE - f.c[i] AS REAL)) AS qres
       |  FROM probes p
       |  JOIN $srcRel e ON e.vec_id = p.query_id
       |  JOIN cf f ON f.cell = p.cell),
       |rdtab AS (
       |  SELECT rq.query_id, rq.cell AS pcell, f2.sub, f2.cell,
       |    CAST(floor((${normC("f2.c")} - 2.0 *
       |      list_aggregate(list_transform(range(1, ${dsub + 1}),
       |        i -> rq.qres[f2.sub*$dsub + i]::DOUBLE * f2.c[i]), 'sum')) * 1e9)
       |      AS BIGINT) AS d
       |  FROM rq CROSS JOIN pcf f2),
       |qn AS (
       |  SELECT query_id, cell,
       |    CAST(floor(list_aggregate(list_transform(range(1, $up),
       |      i -> qres[i]::DOUBLE * qres[i]::DOUBLE), 'sum') * 1e9) AS BIGINT)
       |      AS qnorm
       |  FROM rq),
       |cand AS (
       |  SELECT p.query_id, cl.vec_id AS neighbor_id, cl.cell,
       |    CAST(SUM(d.d) AS BIGINT) AS sum_d
       |  FROM probes p
       |  JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id
       |  JOIN pcodes co ON co.vec_id = cl.vec_id
       |  JOIN rdtab d ON d.query_id = p.query_id AND d.pcell = p.cell
       |    AND d.sub = co.sub AND d.cell = co.code
       |  GROUP BY p.query_id, cl.vec_id, cl.cell),
       |cand2 AS (
       |  SELECT c.query_id, c.neighbor_id, c.sum_d + q.qnorm AS adist_fp
       |  FROM cand c JOIN qn q
       |    ON q.query_id = c.query_id AND q.cell = c.cell),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist_fp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_fp ASC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand2)
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q133 oracle: replay product quantization end to end in DuckDB —
    * per-subspace init sample, two unrolled Lloyd iterations over the
    * exploded (vector × subspace) relation, encode under the trained
    * double codebook, float-rounded served codebook, fixed-point ADC
    * distance sums, top-k.
    *
    * Every arithmetic step mirrors [[PqIndex]] bit for bit (the q65
    * discipline, applied per subspace):
    *  - init: sub-slices of the `ksub` lowest `h60(id:seed)` vectors;
    *  - assignment distance `|c|² − 2v·c` with double sub-centroids,
    *    folds index-ascending, ties → lowest cell;
    *  - update: `floor(x·1e9)` BIGINT sums then the same long→double
    *    divide chain; empty (sub, cell)s keep the previous sub-centroid;
    *  - ADC table from the REAL-rounded codebook, each (sub, cell) term
    *    `floor((|c|²−2q_j·c)·1e9)` fixed-pointed BEFORE the per-pair
    *    sum, so the total is an exact BIGINT and ranking is unambiguous.
    */
  private def q133Oracle: String =
    s"""WITH ${pqAdcCtes()}
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  /** The rotated-relation CTE block shared by q175/q176: the seeded
    * rotation matrix as a 4096-entry row-major literal, each output
    * element one index-ascending fold (VectorDot's exact order). */
  private def rotrelCtes(seed: Long): String = {
    val rot = PqIndex.seededRotation(64, seed)
    val flat = rot.flatMap(_.map(_.toString)).mkString(", ")
    s"""rw AS (SELECT [$flat] AS w),
       |ri AS (SELECT unnest(range(0, 64)) AS i),
       |rotrel AS (
       |  SELECT vec_id, list(re ORDER BY i) AS embedding FROM (
       |    SELECT e.vec_id, r.i,
       |      CAST(list_aggregate(list_transform(range(1, 65),
       |        j -> e.embedding[j]::DOUBLE * rw.w[r.i*64 + j]), 'sum') AS REAL) AS re
       |    FROM embeddings e CROSS JOIN ri r CROSS JOIN rw)
       |  GROUP BY vec_id)""".stripMargin
  }

  /** q175 oracle: the q133 replay over the ROTATED relation
    * ([[rotrelCtes]] — every matrix value ±0.125, float-exact, so
    * printing/parsing cannot round); both the train/encode source and
    * the query distance tables read the rotated relation. */
  private def q175Oracle: String = {
    s"""WITH ${rotrelCtes(7L)},
       |${pqTrainCtes("", srcRel = "rotrel", dtabSrcRel = "rotrel")},
       |cand AS (
       |  SELECT d.query_id, co.vec_id AS neighbor_id,
       |    CAST(SUM(d.d) AS BIGINT) AS adist_fp
       |  FROM codes co JOIN dtab d ON d.sub = co.sub AND d.cell = co.code
       |  WHERE co.vec_id <> d.query_id
       |  GROUP BY d.query_id, co.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist_fp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_fp ASC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q177 oracle: replay the TRAINED-OPQ alternation end to end —
    * seeded-rotation relation (literal matrix, q175's CTEs), the t0
    * Lloyd fit + encode over it, the fixed-point cross-covariance
    * sufficient statistics (BIGINT sums keyed (i, sub, cell), empty
    * cells → 0), the C fold (cell-ascending, DOUBLE codebook), the
    * transpose, the Frobenius normalization, 60 unrolled Newton–Schulz
    * matrix iterations (every 64-term fold index-ascending — the
    * [[PqIndex.polarNS]] op order exactly), the REAL rounding of the
    * trained rotation, the re-rotated relation, the t1 Lloyd fit, and
    * the fixed-point ADC top-k. Matrices ride as flattened 4096-entry
    * row-major lists; all arithmetic is the engines' shared IEEE
    * double, so the chain is bit-stable cross-engine. */
  private def q177Oracle: String = {
    val dim = 64; val m = 8; val ksub = 16; val dsub = dim / m
    val nsIters = 60
    val dd = dim * dim
    // row-major idx: i = idx // dim, j = idx % dim. Each iteration
    // references the PREVIOUS one exactly once (zᵀz rides an inner
    // subquery over the same row) — DuckDB inlines CTEs per reference,
    // so a two-reference chain would expand exponentially in the
    // planner; the single-reference chain stays linear in nsIters.
    def nsIter(k: Int): String =
      s"""z_$k AS (
         |  SELECT list_transform(range(0, $dd), idx ->
         |    0.5 * list_aggregate(list_transform(range(0, $dim), kk ->
         |      z[(idx // $dim) * $dim + kk + 1] *
         |      ((CASE WHEN kk = (idx % $dim) THEN 3.0 ELSE 0.0 END) -
         |        w[kk * $dim + (idx % $dim) + 1])), 'sum')) AS z
         |  FROM (
         |    SELECT z, list_transform(range(0, $dd), idx ->
         |      list_aggregate(list_transform(range(0, $dim), kk ->
         |        z[kk * $dim + (idx // $dim) + 1] *
         |        z[kk * $dim + (idx % $dim) + 1]), 'sum')) AS w
         |    FROM z_${k - 1}))""".stripMargin
    val ns = (1 to nsIters).map(nsIter).mkString(",\n")
    s"""WITH ${rotrelCtes(7L)},
       |${pqTrainCtes("t0", m = m, ksub = ksub, srcRel = "rotrel", emitDtab = false)},
       |s0 AS (
       |  SELECT i.i, co.sub, co.code AS cell,
       |    CAST(SUM(CAST(floor(e.embedding[i.i + 1]::DOUBLE * 1e9) AS BIGINT))
       |      AS BIGINT) AS s
       |  FROM t0codes co
       |  JOIN embeddings e ON e.vec_id = co.vec_id
       |  CROSS JOIN ri i
       |  GROUP BY i.i, co.sub, co.code),
       |grid AS (
       |  SELECT i.i, sb.sub, cl.cell
       |  FROM ri i CROSS JOIN t0subs sb
       |  CROSS JOIN (SELECT unnest(range(0, $ksub)) AS cell) cl),
       |s0f AS (
       |  SELECT list(COALESCE(s0.s, CAST(0 AS BIGINT))
       |      ORDER BY g.i, g.sub, g.cell) AS s
       |  FROM grid g LEFT JOIN s0
       |    ON s0.i = g.i AND s0.sub = g.sub AND s0.cell = g.cell),
       |c0f AS (
       |  SELECT list(cv ORDER BY sub, cell, jl) AS c FROM (
       |    SELECT t.sub, t.cell, r.jl, t.c[r.jl] AS cv
       |    FROM t0c_2 t
       |    CROSS JOIN (SELECT unnest(range(1, ${dsub + 1})) AS jl) r)),
       |cc0 AS (
       |  SELECT list_transform(range(0, $dd), idx ->
       |    list_aggregate(list_transform(range(0, $ksub), cell ->
       |      CAST(s0f.s[((idx // $dim) * $m + ((idx % $dim) // $dsub)) * $ksub
       |          + cell + 1] AS DOUBLE)
       |        * c0f.c[(((idx % $dim) // $dsub) * $ksub + cell) * $dsub
       |          + ((idx % $dim) % $dsub) + 1]), 'sum')) AS cmat
       |  FROM s0f, c0f),
       |a0 AS (SELECT list_transform(range(0, $dd), idx ->
       |    cc0.cmat[(idx % $dim) * $dim + (idx // $dim) + 1]) AS a FROM cc0),
       |nrm AS (SELECT sqrt(list_aggregate(list_transform(a0.a, x -> x * x),
       |    'sum')) AS f FROM a0),
       |z_0 AS (SELECT list_transform(a0.a, x -> x / nrm.f) AS z FROM a0, nrm),
       |$ns,
       |r1 AS (SELECT list_transform(z.z, x -> CAST(CAST(x AS REAL) AS DOUBLE))
       |    AS w FROM z_$nsIters z),
       |rotrel1 AS (
       |  SELECT vec_id, list(re ORDER BY i) AS embedding FROM (
       |    SELECT e.vec_id, r.i,
       |      CAST(list_aggregate(list_transform(range(1, ${dim + 1}),
       |        j -> e.embedding[j]::DOUBLE * r1.w[r.i*$dim + j]), 'sum')
       |        AS REAL) AS re
       |    FROM embeddings e CROSS JOIN ri r CROSS JOIN r1)
       |  GROUP BY vec_id),
       |${pqTrainCtes("t1", m = m, ksub = ksub, srcRel = "rotrel1", dtabSrcRel = "rotrel1")},
       |cand AS (
       |  SELECT d.query_id, co.vec_id AS neighbor_id,
       |    CAST(SUM(d.d) AS BIGINT) AS adist_fp
       |  FROM t1codes co JOIN t1dtab d ON d.sub = co.sub AND d.cell = co.code
       |  WHERE co.vec_id <> d.query_id
       |  GROUP BY d.query_id, co.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist_fp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_fp ASC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q180 oracle: replay the occupancy-skew advisor from the data —
    * the q65 training loop, the double-centroid corpus assignment
    * (`cells`), the REAL-rounded frozen-centroid assignment of the
    * translated drift batch (the append discipline), per-cell counts, and
    * the exact-integer imbalance arithmetic. The Spark side reads the
    * counts from parquet footers; the oracle recomputes them from the
    * same assignments — equality proves layout and statistic at once. */
  private def q180Oracle: String = {
    val nlist = 8; val dim = 64; val up = dim + 1
    def dotVC(v: String, c: String) =
      s"list_aggregate(list_transform(range(1, $up), i -> $v[i]::DOUBLE * $c[i]), 'sum')"
    def normC(c: String) =
      s"list_aggregate(list_transform($c, x -> x * x), 'sum')"
    val imb = s"CAST($nlist * SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS DOUBLE) / " +
      "CAST(CAST(SUM(n) AS HUGEINT) * CAST(SUM(n) AS HUGEINT) AS DOUBLE)"
    s"""WITH ${ivfCellsCtes(nlist = nlist, maxIter = 3, dim = dim, seed = 42L)},
       |cf AS (SELECT cell,
       |    list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS c
       |  FROM c_3),
       |drift AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(embedding, x -> CAST(x + CAST(4.0 AS REAL) AS REAL))
       |      AS embedding
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |dassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT d.vec_id, f.cell,
       |      row_number() OVER (PARTITION BY d.vec_id
       |        ORDER BY (${normC("f.c")} - 2.0 * ${dotVC("d.embedding", "f.c")}) ASC,
       |                 f.cell ASC) AS rn
       |    FROM drift d CROSS JOIN cf f) WHERE rn = 1),
       |allcells AS (
       |  SELECT cell FROM cells UNION ALL SELECT cell FROM dassign),
       |pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
       |  FROM allcells GROUP BY cell)
       |SELECT CAST($nlist AS INTEGER) AS nlist,
       |  CAST(SUM(n) AS BIGINT) AS n_vecs,
       |  CAST($nlist - COUNT(*) AS BIGINT) AS n_empty_cells,
       |  CAST(MAX(n) AS BIGINT) AS max_cell,
       |  CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS max_cell_frac,
       |  $imb AS imbalance,
       |  CAST(CASE WHEN $imb > 1.5 THEN 1 ELSE 0 END AS INTEGER) AS reindex
       |FROM pc""".stripMargin
  }

  /** q158 oracle: the q133 replay with the TRAINING relation (init +
    * Lloyd) restricted to the 4/16 md5 hash-sample — the encode and the
    * ADC scan still cover the full corpus, mirroring `trainSixteenths`
    * exactly. */
  private def q158Oracle: String =
    s"""WITH ${pqAdcCtes(Some("substr(md5(CAST(vec_id AS VARCHAR)), 32, 1) < '4'"))}
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  /** q139 oracle: the q133 replay truncated to a `shortlist`-deep ADC
    * candidate set, then EXACT cosine re-ranking of only those rows —
    * the two-stage serve. */
  private def q139Oracle: String = q139OracleWith(shortlist = 10)

  private def q139OracleWith(shortlist: Int, m: Int = 4, ksub: Int = 8): String =
    s"""WITH ${pqAdcCtes(None, m, ksub)},
       |short AS (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= $shortlist),
       |rr AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${cosSql("q.embedding", "n.embedding", 64)} AS cos
       |  FROM short s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings n ON n.vec_id = s.neighbor_id),
       |rranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM rr)
       |SELECT query_id, rnk, neighbor_id, cos
       |FROM rranked WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  /** The q133 WITH-body: full PQ training replay, encode, fixed-point
    * ADC scan, ending in CTE `ranked (query_id, neighbor_id, adist_fp,
    * rnk)` over all candidate pairs. */
  private def pqAdcCtes(samplePred: Option[String] = None,
      m: Int = 4, ksub: Int = 8): String =
    s"""${pqTrainCtes("", samplePred, m, ksub)},
       |cand AS (
       |  SELECT d.query_id, co.vec_id AS neighbor_id,
       |    CAST(SUM(d.d) AS BIGINT) AS adist_fp
       |  FROM codes co JOIN dtab d ON d.sub = co.sub AND d.cell = co.code
       |  WHERE co.vec_id <> d.query_id
       |  GROUP BY d.query_id, co.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist_fp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_fp ASC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)""".stripMargin

  /** The PQ replay fragment with `p`-prefixed CTE names: full
    * per-subspace training, encode, and the per-(query, sub, cell) ADC
    * table — ending in `${p}codes (vec_id, sub, code)` and `${p}dtab
    * (query_id, sub, cell, d)`. The prefix keeps the namespace apart
    * when composed with the IVF replay (q134). */
  private def pqTrainCtes(p: String, samplePred: Option[String] = None,
      m: Int = 4, ksub: Int = 8, srcRel: String = "embeddings",
      emitDtab: Boolean = true, dtabSrcRel: String = "embeddings"): String = {
    val dsub = 64 / m; val maxIter = 2
    val seed = 42L
    // sampled training (q158): init + Lloyd read the `${p}svt` slice of
    // the exploded relation; codes/dtab (the full-corpus encode + query
    // tables) are untouched — mirroring `trainSixteenths` on the Spark
    // side. `srcRel` redirects the TRAIN + ENCODE vector relation (the
    // residual replay, q173: a (vec_id, embedding) relation of
    // residuals); the dtab stays on raw `embeddings` queries and is
    // SKIPPED entirely via emitDtab=false when the caller builds its
    // own per-(query, cell) residual tables.
    val initSrc = if (samplePred.isDefined) s"${p}tr" else srcRel
    val trainCte = samplePred
      .map(pr => s"${p}tr AS (SELECT vec_id, embedding FROM $srcRel WHERE $pr),\n")
      .getOrElse("")
    val svTrainWhere = samplePred.map(pr => s" WHERE $pr").getOrElse("")
    def sliceOf(v: String) = s"$v[s.sub*$dsub+1 : s.sub*$dsub+$dsub]"
    // index-ascending double fold of subvec·c (subvec float list, c double list)
    def dotVC(v: String, c: String) =
      s"list_aggregate(list_transform(range(1, ${dsub + 1}), i -> $v[i]::DOUBLE * $c[i]), 'sum')"
    def normC(c: String) =
      s"list_aggregate(list_transform($c, x -> x * x), 'sum')"
    val sums = (0 until dsub).map(i =>
      s"CAST(SUM(CAST(floor(subvec[${i + 1}]::DOUBLE * 1e9) AS BIGINT)) AS BIGINT) AS s_$i")
      .mkString(",\n      ")
    val centroidList = (0 until dsub).map(i =>
      s"CAST(s.s_$i AS DOUBLE) / CAST(s.n AS DOUBLE) / 1e9").mkString(", ")
    // one Lloyd iteration: assign with c_{k-1} (same sub only), re-sum,
    // keep the previous sub-centroid on empty cells
    def iteration(kIt: Int): String =
      s"""${p}a_$kIt AS (
         |  SELECT vec_id, sub, subvec, cell FROM (
         |    SELECT v.vec_id, v.sub, v.subvec, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub
         |        ORDER BY (${normC("c.c")} - 2.0 * ${dotVC("v.subvec", "c.c")}) ASC,
         |                 c.cell ASC) AS rn
         |    FROM ${p}svt v JOIN ${p}c_${kIt - 1} c ON c.sub = v.sub) WHERE rn = 1),
         |${p}s_$kIt AS (
         |  SELECT sub, cell, CAST(count(*) AS BIGINT) AS n,
         |      $sums
         |  FROM ${p}a_$kIt GROUP BY sub, cell),
         |${p}c_$kIt AS (
         |  SELECT p.sub, p.cell,
         |    CASE WHEN s.n IS NULL THEN p.c
         |         ELSE [$centroidList] END AS c
         |  FROM ${p}c_${kIt - 1} p LEFT JOIN ${p}s_$kIt s
         |    ON s.sub = p.sub AND s.cell = p.cell)""".stripMargin
    val iterations = (1 to maxIter).map(iteration).mkString(",\n")
    s"""${trainCte}${p}subs AS (SELECT unnest(range(0, $m)) AS sub),
       |${p}init AS (
       |  SELECT embedding,
       |    CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) - 1 AS cell
       |  FROM (
       |    SELECT vec_id, embedding,
       |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':$seed'), 1, 15) AS BIGINT) AS h
       |    FROM $initSrc ORDER BY h, vec_id LIMIT $ksub)),
       |${p}sv AS (
       |  SELECT e.vec_id, s.sub, ${sliceOf("e.embedding")} AS subvec
       |  FROM $srcRel e CROSS JOIN ${p}subs s),
       |${p}svt AS (SELECT * FROM ${p}sv$svTrainWhere),
       |${p}c_0 AS (
       |  SELECT s.sub, i.cell,
       |    list_transform(${sliceOf("i.embedding")}, x -> x::DOUBLE) AS c
       |  FROM ${p}init i CROSS JOIN ${p}subs s),
       |$iterations,
       |${p}codes AS (
       |  SELECT vec_id, sub, cell AS code FROM (
       |    SELECT v.vec_id, v.sub, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY (${normC("c.c")} - 2.0 * ${dotVC("v.subvec", "c.c")}) ASC,
       |                 c.cell ASC) AS rn
       |    FROM ${p}sv v JOIN ${p}c_$maxIter c ON c.sub = v.sub) WHERE rn = 1),
       |${p}cf AS (
       |  SELECT sub, cell, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS c
       |  FROM ${p}c_$maxIter)""".stripMargin + (if (!emitDtab) "" else s""",
       |${p}dtab AS (
       |  SELECT e.vec_id AS query_id, f.sub, f.cell,
       |    CAST(floor((${normC("f.c")} - 2.0 *
       |      list_aggregate(list_transform(range(1, ${dsub + 1}),
       |        i -> e.embedding[f.sub*$dsub + i]::DOUBLE * f.c[i]), 'sum')) * 1e9) AS BIGINT) AS d
       |  FROM $dtabSrcRel e CROSS JOIN ${p}cf f WHERE e.vec_id < 6)""".stripMargin)
  }

  /** Reusable replay of the [[IvfIndex.build]] training loop + final
    * cell assignment (the q65 discipline) as a WITH-body fragment:
    * defines CTEs `c_0..c_maxIter` and `cells (vec_id, embedding,
    * cell)`. Shared by the q135/q136 oracles, which consume the TRAINED
    * cells rather than the probe path. */
  private def ivfCellsCtes(nlist: Int, maxIter: Int, dim: Int, seed: Long,
      srcRel: String = "embeddings"): String = {
    val up = dim + 1
    def dotVC(v: String, c: String) =
      s"list_aggregate(list_transform(range(1, $up), i -> $v[i]::DOUBLE * $c[i]), 'sum')"
    def normC(c: String) =
      s"list_aggregate(list_transform($c, x -> x * x), 'sum')"
    val sums = (0 until dim).map(i =>
      s"CAST(SUM(CAST(floor(embedding[${i + 1}]::DOUBLE * 1e9) AS BIGINT)) AS BIGINT) AS s_$i")
      .mkString(",\n      ")
    val centroidList = (0 until dim).map(i =>
      s"CAST(s.s_$i AS DOUBLE) / CAST(s.n AS DOUBLE) / 1e9").mkString(", ")
    def iteration(kIt: Int): String =
      s"""a_$kIt AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY (${normC("c.c")} - 2.0 * ${dotVC("e.embedding", "c.c")}) ASC,
         |                 c.cell ASC) AS rn
         |    FROM $srcRel e CROSS JOIN c_${kIt - 1} c) WHERE rn = 1),
         |s_$kIt AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |      $sums
         |  FROM a_$kIt GROUP BY cell),
         |c_$kIt AS (
         |  SELECT p.cell,
         |    CASE WHEN s.n IS NULL THEN p.c
         |         ELSE [$centroidList] END AS c
         |  FROM c_${kIt - 1} p LEFT JOIN s_$kIt s ON s.cell = p.cell)""".stripMargin
    s"""c_0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS c
       |  FROM (
       |    SELECT vec_id, embedding,
       |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':$seed'), 1, 15) AS BIGINT) AS h
       |    FROM $srcRel ORDER BY h, vec_id LIMIT $nlist)),
       |${(1 to maxIter).map(iteration).mkString(",\n")},
       |cells AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${normC("c.c")} - 2.0 * ${dotVC("e.embedding", "c.c")}) ASC,
       |                 c.cell ASC) AS rn
       |    FROM $srcRel e CROSS JOIN c_$maxIter c) WHERE rn = 1)""".stripMargin
  }

  /** q136 oracle: the IVF training replay, then SemDeDup's within-cell
    * pair scan — a vector is dropped when a lower-id cellmate reaches
    * the cosine threshold. */
  private def q136Oracle: String = {
    s"""WITH ${ivfCellsCtes(nlist = 8, maxIter = 3, dim = 64, seed = 42L)},
       |dropped AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding", 64)} >= 0.2),
       |out AS (
       |  SELECT c.vec_id, c.cell,
       |    CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
       |  FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id)
       |SELECT vec_id, cell, keep FROM out ORDER BY vec_id""".stripMargin
  }

  /** q135 oracle: the IVF training replay, then the exact bottom-k
    * (h60 order) inside each trained cell. */
  private def q135Oracle: String = {
    s"""WITH ${ivfCellsCtes(nlist = 8, maxIter = 3, dim = 64, seed = 42L)},
       |h AS (
       |  SELECT vec_id, cell,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':cbs'), 1, 15) AS BIGINT) AS hh
       |  FROM cells),
       |r AS (
       |  SELECT vec_id, cell,
       |    CAST(row_number() OVER (PARTITION BY cell ORDER BY hh, vec_id) AS BIGINT) AS rn
       |  FROM h)
       |SELECT vec_id, cell, rn FROM r WHERE rn <= 5 ORDER BY vec_id""".stripMargin
  }

  /** q134 oracle: the q65 and q133 replays COMPOSED — the IVF training
    * loop (3 unrolled Lloyd iterations, dim 64) gives cells + float
    * probe centroids; the PQ training loop (2 unrolled per-subspace
    * iterations) gives codes + the served ADC codebook; candidates are
    * restricted to each query's nprobe probe cells and scored by the
    * same fixed-point BIGINT ADC sums as q133. PQ CTEs carry a `p`
    * prefix to keep the two training namespaces apart. */
  private def q134Oracle: String = {
    val ivfIter = 3; val dim = 64
    val k = 3; val nprobe = 3
    val up = dim + 1
    def dotVC(v: String, c: String) =
      s"list_aggregate(list_transform(range(1, $up), i -> $v[i]::DOUBLE * $c[i]), 'sum')"
    def normC(c: String) =
      s"list_aggregate(list_transform($c, x -> x * x), 'sum')"
    s"""WITH ${ivfCellsCtes(nlist = 8, maxIter = ivfIter, dim = dim, seed = 42L)},
       |cf AS (
       |  SELECT cell, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS c
       |  FROM c_$ivfIter),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, f.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${normC("f.c")} - 2.0 * ${dotVC("e.embedding", "f.c")}) ASC,
       |                 f.cell ASC) AS pr
       |    FROM embeddings e CROSS JOIN cf f WHERE e.vec_id < 6) WHERE pr <= $nprobe),
       |${pqTrainCtes("p")},
       |cand AS (
       |  SELECT p.query_id, cl.vec_id AS neighbor_id,
       |    CAST(SUM(d.d) AS BIGINT) AS adist_fp
       |  FROM probes p
       |  JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id
       |  JOIN pcodes co ON co.vec_id = cl.vec_id
       |  JOIN pdtab d ON d.query_id = p.query_id AND d.sub = co.sub AND d.cell = co.code
       |  GROUP BY p.query_id, cl.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist_fp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_fp ASC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** The SQ8 range-train + encode CTEs shared by q184/q185: `mm` is the
    * per-dimension min/max aggregation (exactly order-independent on
    * both engines), `sqs` packs the ranges into two dim-length lists,
    * `sqcodes` replays [[SqIndex.codesExpr]]'s Codec8bit arithmetic —
    * identical subtract/divide/multiply/floor order, identical
    * diff-zero branch. */
  private def sqCtes(dim: Int): String =
    s"""mm AS (
       |  SELECT d, min(embedding[d]::DOUBLE) AS vmin,
       |    max(embedding[d]::DOUBLE) - min(embedding[d]::DOUBLE) AS vdiff
       |  FROM embeddings, range(1, ${dim + 1}) t(d) GROUP BY d),
       |sqs AS (SELECT list(vmin ORDER BY d) AS vmin,
       |    list(vdiff ORDER BY d) AS vdiff FROM mm),
       |sqcodes AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, ${dim + 1}), d ->
       |      CASE WHEN s.vdiff[d] = 0.0 THEN 0
       |        ELSE CAST(floor(((e.embedding[d]::DOUBLE - s.vmin[d]) / s.vdiff[d])
       |          * 255.0) AS INTEGER) END) AS codes
       |  FROM embeddings e, sqs s)""".stripMargin

  /** One per-dimension fixed-point SQ distance term — the half-step
    * reconstruction `r = vmin + (code + 0.5)·diff / 255` substituted
    * into `floor((r² − 2·q_d·r)·1e9)`, operation order matching
    * [[SqIndex]]'s `sqDistCol` exactly. Expects `c` (codes row), `s`
    * (ranges), and the query vector reference in scope. */
  private def sqTermSql(qVec: String): String = {
    val r = "(s.vmin[d] + ((c.codes[d]::DOUBLE + 0.5) * s.vdiff[d]) / 255.0)"
    s"CAST(floor(($r * $r - 2.0 * $qVec[d]::DOUBLE * $r) * 1e9) AS BIGINT)"
  }

  /** q184 oracle: the full SQ8 replay — range training, byte encode,
    * half-step reconstruction, fixed-point asymmetric ranking. */
  private def q184Oracle: String = {
    val dim = 64; val k = 3
    s"""WITH ${sqCtes(dim)},
       |q AS (SELECT vec_id AS query_id, embedding AS q_vec
       |  FROM embeddings WHERE vec_id < 6),
       |pairs AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    CAST(list_aggregate(list_transform(range(1, ${dim + 1}),
       |      d -> ${sqTermSql("q.q_vec")}), 'sum') AS BIGINT) AS adist_fp
       |  FROM q, sqcodes c, sqs s WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist_fp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_fp ASC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM pairs)
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q185 oracle: the q65 IVF training replay composed with the q184
    * SQ8 replay — probe ranking over the served centroids, then the
    * fixed-point SQ scan restricted to the probed cells. */
  private def q185Oracle: String = {
    val ivfIter = 3; val dim = 64; val k = 3; val nprobe = 3
    def dotVC(v: String, c: String) = ivfDotVC(v, c, dim)
    def normC(c: String) = ivfNormC(c)
    s"""WITH ${ivfCellsCtes(nlist = 8, maxIter = ivfIter, dim = dim, seed = 42L)},
       |cf AS (
       |  SELECT cell, list_transform(c, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS c
       |  FROM c_$ivfIter),
       |probes AS (
       |  SELECT query_id, q_vec, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_vec, f.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${normC("f.c")} - 2.0 * ${dotVC("e.embedding", "f.c")}) ASC,
       |                 f.cell ASC) AS pr
       |    FROM embeddings e CROSS JOIN cf f WHERE e.vec_id < 6) WHERE pr <= $nprobe),
       |${sqCtes(dim)},
       |cand AS (
       |  SELECT p.query_id, cl.vec_id AS neighbor_id,
       |    CAST(list_aggregate(list_transform(range(1, ${dim + 1}),
       |      d -> ${sqTermSql("p.q_vec")}), 'sum') AS BIGINT) AS adist_fp
       |  FROM probes p
       |  JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id
       |  JOIN sqcodes c ON c.vec_id = cl.vec_id
       |  CROSS JOIN sqs s),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist_fp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_fp ASC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id, adist_fp,
       |  CAST(adist_fp AS DOUBLE) / 1e9 AS adist
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q186 oracle: the binary two-stage serve replayed end to end —
    * fixed-point per-dimension means, 60-bit-word sign packing
    * (bit `b−1` of word `w` is dimension `60w + b`, the
    * [[SqIndex.binCodeExpr]] layout; the distinct-power sum equals the
    * bitwise OR), XOR+popcount hamming shortlist with the lowest-id
    * tie-break, exact-cosine re-rank. */
  /** The binary-quantizer training CTEs shared by q186/q187: `mn` is
    * the fixed-point per-dimension sum/count aggregation, `means` the
    * long→double divide chain ([[SqIndex.binaryMeans]] verbatim), `bc`
    * the 60-bit-word sign packing (distinct-power sums ≡ bitwise OR),
    * `q` the query rows carrying their own packed code. */
  private def binCtes(dim: Int, queryPred: String): String = {
    def word(wIdx: Int, bits: Int): String =
      s"""CAST(list_aggregate(list_transform(range(1, ${bits + 1}),
         |    b -> CASE WHEN e.embedding[${wIdx * 60} + b]::DOUBLE > m.mu[${wIdx * 60} + b]
         |      THEN (1::BIGINT << CAST(b - 1 AS INTEGER)) ELSE 0::BIGINT END),
         |    'sum') AS BIGINT)""".stripMargin
    s"""mn AS (
       |  SELECT d,
       |    CAST(SUM(CAST(floor(embedding[d]::DOUBLE * 1e9) AS BIGINT)) AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM embeddings, range(1, ${dim + 1}) t(d) GROUP BY d),
       |means AS (SELECT list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e9
       |    ORDER BY d) AS mu FROM mn),
       |bc AS (SELECT e.vec_id, ${word(0, 60)} AS w0, ${word(1, dim - 60)} AS w1
       |  FROM embeddings e, means m),
       |q AS (SELECT e.vec_id AS query_id, e.embedding AS q_vec, b.w0, b.w1
       |  FROM embeddings e JOIN bc b ON b.vec_id = e.vec_id WHERE $queryPred)""".stripMargin
  }

  private def q186Oracle: String = {
    val dim = 64; val k = 3; val shortlist = 10
    s"""WITH ${binCtes(dim, "e.vec_id < 6")},
       |hs AS (
       |  SELECT query_id, neighbor_id, q_vec FROM (
       |    SELECT q.query_id, b.vec_id AS neighbor_id, q.q_vec,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY bit_count(xor(b.w0, q.w0)) + bit_count(xor(b.w1, q.w1)) ASC,
       |                 b.vec_id ASC) AS hrnk
       |    FROM q, bc b WHERE b.vec_id <> q.query_id) WHERE hrnk <= $shortlist),
       |rr AS (
       |  SELECT h.query_id, h.neighbor_id,
       |    ${cosSql("h.q_vec", "e.embedding", dim)} AS cos
       |  FROM hs h JOIN embeddings e ON e.vec_id = h.neighbor_id)
       |SELECT query_id, rnk, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM rr) WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q187 oracle: the binary sizing rule replayed the q171 way — the
    * doubling ladder rederived from the oracle's own count(*), the
    * FULL hamming ranking, a per-step exact-cosine re-rank (the oracle
    * replays the uncollapsed semantics; the Spark side's one-pass
    * collapse must hash-match it), recall vs the brute replay, and the
    * min-qualifying choice at target 0.9. */
  private def q187Oracle: String = {
    val dim = 64; val k = 3; val target = 0.9
    s"""WITH RECURSIVE ${binCtes(dim, "e.vec_id < 6")},
       |hr AS (
       |  SELECT q.query_id, b.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY bit_count(xor(b.w0, q.w0)) + bit_count(xor(b.w1, q.w1)) ASC,
       |               b.vec_id ASC) AS hrnk
       |  FROM q, bc b WHERE b.vec_id <> q.query_id),
       |lad(s) AS (
       |  SELECT $k
       |  UNION ALL
       |  SELECT s * 2 FROM lad WHERE s * 2 < (SELECT count(*) FROM embeddings)),
       |steps AS (
       |  SELECT s AS shortlist FROM lad
       |  UNION
       |  SELECT CAST(count(*) AS INTEGER) FROM embeddings),
       |scored AS (
       |  SELECT h.query_id, h.neighbor_id, h.hrnk,
       |    ${cosSql("qe.embedding", "ne.embedding", dim)} AS cos
       |  FROM hr h
       |  JOIN embeddings qe ON qe.vec_id = h.query_id
       |  JOIN embeddings ne ON ne.vec_id = h.neighbor_id),
       |rk AS (
       |  SELECT st.shortlist, sc.query_id, sc.neighbor_id,
       |    row_number() OVER (PARTITION BY st.shortlist, sc.query_id
       |      ORDER BY sc.cos DESC, sc.neighbor_id ASC) AS rnk
       |  FROM steps st JOIN scored sc ON sc.hrnk <= st.shortlist),
       |approx AS (SELECT shortlist, query_id, neighbor_id FROM rk WHERE rnk <= $k),
       |brute AS (SELECT * FROM (${bruteOracle("vec_id < 6", k)})),
       |j AS (
       |  SELECT st.shortlist, b.query_id, b.neighbor_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM steps st CROSS JOIN brute b
       |  LEFT JOIN approx a ON a.shortlist = st.shortlist
       |    AND a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
       |curve AS (
       |  SELECT shortlist, CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(SUM(hit) AS BIGINT) AS n_hit,
       |    CAST(SUM(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |  FROM j GROUP BY shortlist)
       |SELECT shortlist, n_exact, n_hit, recall,
       |  CAST(CASE WHEN shortlist = (SELECT min(shortlist) FROM curve
       |      WHERE recall >= $target)
       |    THEN 1 ELSE 0 END AS INTEGER) AS chosen
       |FROM curve ORDER BY shortlist""".stripMargin
  }

  /** q66 oracle: replay the SIZED, 2-band OR-amplified geometry end to
    * end. Bits derive from the oracle's own count(*) with the same
    * integer rule as [[suggestedLshBits]] (see [[q143Oracle]]); band 0
    * is the plane family at offset 0 (the q143 family), band 1 at
    * offset 24 ([[graft.functions.VectorFunctions.vec_lsh_key_band]]'s
    * fixed stride), both embedded as double-literal matrices and gated
    * per-plane on the derived bits. A pair qualifying in both bands
    * dedups via UNION — both branches compute the identical
    * index-ascending double cosine, so the rows are bit-equal and
    * collapse, matching the Spark side's (id_a, id_b) aggregate. */
  private def q66Oracle: String = {
    val dim = 64; val maxBits = 24; val target = 256L
    val (ctes0, _, tables0) = lshOracleCtes(dim, maxBits)
    val (ctes1, _, tables1) = lshOracleCtes(dim, maxBits, prefix = "d",
      planeOffset = 24)
    val b0 = gatedBucketSql(dim, maxBits, "c")
    val b1 = gatedBucketSql(dim, maxBits, "d")
    s"""WITH $ctes0,
       |$ctes1,
       |n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM embeddings),
       |bb AS (SELECT COALESCE((SELECT MIN(t.p) FROM range(1, 25) t(p), n
       |    WHERE (${target}::BIGINT << t.p) >= n.cnt), 24) AS bits),
       |k AS (SELECT e.vec_id, e.embedding,
       |    $b0 AS bucket0,
       |    $b1 AS bucket1
       |  FROM embeddings e, $tables0, $tables1, bb),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding", dim)} AS cos
       |  FROM k a JOIN k b ON a.bucket0 = b.bucket0 AND a.vec_id < b.vec_id
       |  UNION
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding", dim)} AS cos
       |  FROM k a JOIN k b ON a.bucket1 = b.bucket1 AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.2
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q142 oracle: the q61 brute ranking over-fetched to k+overFetch
    * (3+8=11, the op's defaults), a fixed bits=2 single-band LSH
    * dup-pair mask (q66's PRE-round-10 geometry — q66 itself now uses
    * sized 2-band buckets; q142 keeps the fixed mask deliberately,
    * matching its Spark side) applied in both orientations, anti-join,
    * re-rank, top-k — the same
    * best-effort over-fetch semantics as the Spark op. */
  private def q142Oracle: String = {
    val dim = 64
    val (ctes, bucket, tables) = lshOracleCtes(dim, bits = 2)
    s"""WITH $ctes,
       |kk AS (SELECT e.vec_id, e.embedding, $bucket AS bucket
       |  FROM embeddings e, $tables),
       |dup AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM kk a JOIN kk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding", dim)} >= 0.2),
       |mask AS (SELECT id_a AS query_id, id_b AS neighbor_id FROM dup
       |  UNION ALL SELECT id_b, id_a FROM dup),
       |q AS (SELECT vec_id AS query_id, embedding AS q_vec
       |  FROM embeddings WHERE vec_id < 8),
       |pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |    ${cosSql("q.q_vec", "e.embedding", dim)} AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       |fetched AS (SELECT query_id, neighbor_id, cos FROM (
       |    SELECT query_id, neighbor_id, cos,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rn
       |    FROM pairs) WHERE rn <= 11),
       |nn AS (SELECT f.query_id, f.neighbor_id, f.cos FROM fetched f
       |  LEFT JOIN mask m ON m.query_id = f.query_id
       |    AND m.neighbor_id = f.neighbor_id
       |  WHERE m.query_id IS NULL),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM nn)
       |SELECT query_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q131 oracle: bucket the eval slice and the corpus remainder with
    * the literal coefficient matrix, expand each eval vector to its
    * multiprobe set (own bucket + each 1-bit flip), join on bucket
    * equality, and replay the exact cosine + threshold + per-corpus-id
    * aggregate. */
  private def q131Oracle: String = {
    val dim = 64; val bits = 2
    val (ctes, bucket, tables) = lshOracleCtes(dim, bits)
    val masks = (0L +: (0 until bits).map(b => 1L << b)).mkString("[", ", ", "]")
    s"""WITH $ctes,
       |kc AS (SELECT e.vec_id, e.embedding,
       |    $bucket AS bucket
       |  FROM embeddings e, $tables WHERE e.vec_id % 23 <> 0),
       |ke AS (SELECT e.vec_id, e.embedding,
       |    $bucket AS bucket
       |  FROM embeddings e, $tables WHERE e.vec_id % 23 = 0),
       |pe AS (SELECT ke.vec_id, ke.embedding,
       |    xor(ke.bucket, m.m) AS bucket
       |  FROM ke, (SELECT unnest($masks) AS m) m),
       |hits AS (SELECT * FROM (
       |  SELECT c.vec_id AS vec_id,
       |    ${cosSql("c.embedding", "p.embedding", dim)} AS cos
       |  FROM kc c JOIN pe p ON c.bucket = p.bucket)
       |  WHERE cos >= 0.2)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
       |  max(cos) AS max_cos
       |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** q123 oracle: the fixed bits=2 single-band LSH-bucket pair replay
    * (q66's pre-round-10 geometry, kept here to match q123's Spark
    * side; restricted to vec_id < 1000) chained into a recursive
    * transitive closure — the same closure shape as the q101 oracle. */
  private def q123Oracle: String = {
    val dim = 64
    val (ctes, bucket, tables) = lshOracleCtes(dim, bits = 2)
    s"""WITH RECURSIVE $ctes,
       |k AS (SELECT e.vec_id, e.embedding,
       |    $bucket AS bucket
       |  FROM embeddings e, $tables
       |  WHERE e.vec_id < 1000),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding", dim)} AS cos
       |  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |pairs AS (SELECT id_a, id_b FROM p WHERE cos >= 0.2),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lbl AS (
       |  SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
       |  FROM reach GROUP BY src),
       |sizes AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM lbl GROUP BY component)
       |SELECT l.vec_id, l.component, s.cluster_size,
       |  CAST(CASE WHEN l.vec_id = l.component THEN 1 ELSE 0 END AS INTEGER)
       |    AS keep
       |FROM lbl l JOIN sizes s USING (component)
       |ORDER BY vec_id""".stripMargin
  }
}
