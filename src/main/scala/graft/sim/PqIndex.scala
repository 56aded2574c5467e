package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.{mat_vec_f, nearest_cell, pq_adc_dist, pq_dist_table, vec_dot, vec_sub_f}

/** Product quantization (PQ) — the MEMORY path for 100 TB similarity
  * search, complementing [[IvfIndex]] (the I/O path) and the hyperplane
  * LSH (the bucketing path).
  *
  * A `dim`-float vector (256 bytes at dim 64) compresses to `m` small
  * integer codes (m bytes at ksub ≤ 256): each of the `m` subspaces of
  * `dsub = dim/m` dims gets its own `ksub`-centroid codebook, and a
  * vector stores only its nearest sub-centroid per subspace — 16-32×
  * less memory, so a corpus that needed a cluster's disks fits in its
  * RAM. Search is asymmetric distance computation (ADC): the query
  * stays exact, each pair cost is `m` table lookups instead of `dim`
  * multiplies, and the scan reads only the code column. IVF∘PQ composes
  * by construction: partition by [[IvfIndex]] cell, store THIS module's
  * codes inside each cell, probe + ADC-scan.
  *
  * Determinism (the q65 discipline, per subspace):
  *  - init: sub-slices of the `ksub` lowest-`h60(id:seed)` vectors;
  *  - Lloyd: ONE map-side-combining aggregation per iteration over the
  *    (vector × subspace) relation, `floor(x·1e9)` BIGINT coordinate
  *    sums — centroids are identical under any partitioning;
  *  - encode: nearest sub-centroid under the TRAINED double codebook;
  *  - ADC: the served codebook is float-rounded; every per-subspace
  *    distance term is fixed-pointed (`floor(·1e9)` long) BEFORE the
  *    per-pair sum, so the total is exact integer math and the ranking
  *    has no float-order or tie ambiguity anywhere.
  * The entire train→encode→search path is therefore replayable by the
  * DuckDB oracle (q133 is a full hash compare).
  */
object PqIndex {

  /** `centroids(sub)(cell)` is a `dsub`-dim double sub-centroid. */
  final case class Codebook(dim: Int, m: Int, ksub: Int,
      centroids: Array[Array[Array[Double]]]) {
    def dsub: Int = dim / m
    /** Float-rounded serving copy (what a FAISS index stores); ADC
      * distance tables are built from THIS, mirroring q65's served
      * `Model.centroids`. */
    def served: Array[Array[Array[Double]]] =
      centroids.map(_.map(_.map(x => x.toFloat.toDouble)))
  }

  /** Left-to-right |c|² fold — the same index-ascending op order as
    * DuckDB's `list_aggregate(list_transform(c, x -> x*x), 'sum')`, so
    * the double embedded as a plan literal equals the oracle's value
    * bit for bit. */
  private def norm2(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Per-(sub, subvec) nearest-cell assignment: an m-branch CASE over
    * the per-subspace [[nearest_cell]] matrices (each a codegen
    * reference object — one compiled class per subspace across all
    * Lloyd iterations). */
  private def assignBySub(cents: Array[Array[Array[Double]]]): Column =
    cents.zipWithIndex.tail.foldLeft(nearest_cell(col("subvec"), cents(0))) {
      case (acc, (mat, j)) =>
        when(col("sub") === j, nearest_cell(col("subvec"), mat)).otherwise(acc)
    }

  /** Train all `m` sub-quantizers in ONE Lloyd loop over the exploded
    * (vector × subspace) relation — each iteration is a single
    * aggregation onto `m·ksub` keys (map-side combined; the collected
    * state is KiB regardless of corpus size).
    *
    * `trainSixteenths < 16` fits the codebooks on a deterministic
    * hash-sample of the corpus (the [[IvfIndex.build]] discipline —
    * same md5 rule, oracle-replayable with one WHERE clause). The
    * sample only shapes the CODEBOOK; [[encode]] and every search path
    * still cover the full corpus, and at 100 TB the m·maxIter
    * full-corpus training passes were the wasted work. */
  def train(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int, seed: Long = 42L, maxIter: Int = 2,
      trainSixteenths: Int = 16,
      initVecs: Option[Array[Array[Double]]] = None): Codebook = {
    // a null vector would assign to a NULL cell, which Row.getAs[Int]
    // silently unboxes to 0 — corrupting cell 0's centroid instead of
    // failing; drop nulls like every other embedding pass does (and
    // probe dim from the CLEAN relation, so a null landing in the head
    // row can't null out the probe either)
    val clean = corpus.filter(col(vecCol).isNotNull)
    val train = if (trainSixteenths >= 16) clean
      else graft.ops.Extended.hashSample(clean, idCol, trainSixteenths)
    // `initVecs` lets a caller that already holds the init sample (the
    // OPQ trainer rotates ONE raw collect driver-side per alternation)
    // skip the TakeOrdered job; it must equal what the collect below
    // would return — the ksub lowest-h60(id:seed) vectors of `train`
    val initRows = initVecs.getOrElse {
      val initHash = graft.text.TextAnalysis.h60(
        concat(col(idCol).cast("string"), lit(":"), lit(seed).cast("string")))
      train.select(col(vecCol)).orderBy(initHash, col(idCol))
        .limit(ksub).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    }
    require(initRows.length == ksub,
      s"training sample (${initRows.length} vectors) smaller than ksub=$ksub — " +
        (if (trainSixteenths < 16) "raise trainSixteenths"
         else "the corpus itself is smaller than ksub; lower ksub"))
    // dim comes from the init sample instead of a dedicated head() job —
    // one fewer Spark job per train call, same value (every vector in
    // the fixture-governed corpora has the same length)
    val dim = initRows.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val cents: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub)((j, c) => initRows(c).slice(j * dsub, (j + 1) * dsub))
    val subs = train
      .select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col(vecCol))
      .select(col(idCol), col("sub"),
        slice(col(vecCol), col("sub") * dsub + 1, lit(dsub)).as("subvec"))
    for (_ <- 0 until maxIter) {
      // one single-stage job per Lloyd round (TrainFold Scaladoc): the
      // keyed projection flattens (sub, cell) to sub·ksub + cell; the
      // fold's counts/sums are the same exact longs the groupBy
      // aggregation produced, so centroids are bit-identical
      val keyed = subs.select(
        (col("sub") * lit(ksub) + assignBySub(cents)).cast("int").as("k"),
        col("subvec"))
      val (counts, sums) = TrainFold.keyedFixedPointSums(keyed, m * ksub, dsub)
      // empty cells keep their previous sub-centroid
      var j = 0
      while (j < m) {
        var cell = 0
        while (cell < ksub) {
          val k = j * ksub + cell
          if (counts(k) > 0L) {
            val n = counts(k).toDouble
            cents(j)(cell) =
              Array.tabulate(dsub)(i => sums(k * dsub + i) / n / 1e9)
          }
          cell += 1
        }
        j += 1
      }
    }
    Codebook(dim, m, ksub, cents)
  }

  /** The m-slot code vector of `vecCol` under the trained codebook —
    * a pure (codegen'd) row expression, usable in any projection. */
  def codesExpr(cb: Codebook, vecCol: Column): Column =
    array((0 until cb.m).map(j =>
      nearest_cell(slice(vecCol, j * cb.dsub + 1, cb.dsub),
        cb.centroids(j))): _*)

  /** Compress the corpus to (id, codes): `m` nearest-sub-centroid ids
    * per vector under the trained codebook. A pure map stage — zero
    * shuffles — and the natural full-corpus rewrite that turns a
    * 100 TB float store into a few TB of codes. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      cb: Codebook): DataFrame =
    // null vectors drop (a NULL code row would otherwise sort FIRST in
    // every ADC ranking — asc puts null distances ahead of real ones)
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), codesExpr(cb, col(vecCol)).as("codes"))

  /** Per-query ADC distance table as a plan literal: entry
    * `j·ksub + cell` holds `floor((|c|² − 2·q_j·c) · 1e9)` — the
    * rank-equivalent Euclidean form (the `|q_j|²` constant per query is
    * dropped, exactly like [[IvfIndex]]'s probe distance), fixed-pointed
    * per SUBSPACE so the per-pair total is an exact long sum. */
  private def dtabFp(cb: Codebook, qVec: Column): Column =
    // one reference-object expression ([[graft.functions.PqDistTable]])
    // instead of m·ksub floor/vec_dot/literal subtrees (~1300 plan nodes
    // at m=8/ksub=16) — same arithmetic, term for term
    pq_dist_table(qVec, cb.served)

  /** ADC pair cost over a `codes`/`dtab` pair of columns: `m` array
    * lookups folded into an exact long sum — codegen'd
    * ([[graft.functions.PqAdcDist]]); the zip_with/aggregate fold it
    * replaces interprets two lambdas per pair on the corpus × query
    * hot path (the SqAdcDist 8× lesson). */
  private def adcDistCol(cb: Codebook): Column =
    pq_adc_dist(col("codes"), col("dtab"), cb.ksub)

  /** Per-query top-k over `(query_id, neighbor_id, adist_fp)` rows.
    * `adist_fp` is the fixed-point distance (hash-exact); `adist` its
    * double form. */
  private[sim] def topKByAdc(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(asc("adist_fp"), asc("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adist_fp"),
        (col("adist_fp").cast("double") / lit(1e9)).as("adist"))
  }

  /** Per-query top-k over `(query_id, neighbor_id, cos)` rows by
    * descending cosine, ties by lowest neighbor id — THE ranking every
    * exact-cosine search path ends in. */
  private[sim] def topKByCos(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cos")
  }

  /** ADC top-k: broadcast the queries (each carrying its distance-table
    * literal plan), stream the CODE column of the corpus once — per
    * pair, `m` array lookups and an exact long sum; the only shuffle is
    * the per-query top-k window over (query, neighbor, adist) rows. */
  def searchADC(cb: Codebook, codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // a null query vector builds a null distance table → every adist_fp
    // null → asc ranks the k lowest-id rows as "nearest"; drop it
    val q = broadcast(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        dtabFp(cb, col(vecCol)).as("dtab")))
    topKByAdc(
      codes.withColumnRenamed(idCol, "neighbor_id")
        .crossJoin(q)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist_fp", adcDistCol(cb)), k)
  }

  /** The doubling shortlist ladder, ending EXACTLY at `nCandidates` —
    * whose step reranks the ENTIRE ADC candidate set with exact
    * cosines, i.e. IS brute force, so a recall rule over this ladder is
    * TOTAL (the [[Similarity.nprobeLadder]] shape; contrast the LSH
    * table ladder, which has no exactness endpoint). Starts at `k`:
    * shortlists below k cannot even fill the output. */
  def shortlistLadder(k: Int, nCandidates: Long): Seq[Int] = {
    require(k >= 1 && nCandidates >= k,
      s"need nCandidates=$nCandidates >= k=$k >= 1")
    require(nCandidates <= Int.MaxValue, "ladder endpoint must fit an Int")
    (Iterator.iterate(k.toLong)(_ * 2).takeWhile(_ < nCandidates)
      .map(_.toInt) ++ Iterator(nCandidates.toInt)).toSeq
  }

  /** Pooled recall@k of the two-stage serve at each ladder shortlist —
    * the PQ member of the recall-sizing family ([[Similarity
    * .ivfRecallCurve]] sizes nprobe, [[Similarity.lshRecallCurve]]
    * sizes table count; this sizes the ADC shortlist, the knob the r12
    * decade soak showed must TRACK the candidate pool or recall
    * collapses — 0.08 at shortlist 100 under 2M vectors).
    *
    * Collapsed (r13): a pair is in `searchAdcRerank(shortlist=s)`'s
    * re-rank set iff its ADC rank ≤ s, and a TRUE top-k pair survives
    * the exact-cosine re-rank at EVERY shortlist that admits it (fewer
    * than k corpus rows beat it anywhere —
    * [[Similarity.recallLadderAgg]]'s subset-rank argument) — so its
    * first qualifying shortlist IS its ADC rank, the exact-cosine
    * scoring join the per-step form needed disappears entirely, and
    * the curve costs ONE ADC ranking at the deepest step plus one
    * ladder aggregation (~5 shuffles where the r12 plan had 72). */
  def shortlistRecallCurve(cb: Codebook, codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      ladder: Seq[Int], exactPre: Option[DataFrame] = None): DataFrame = {
    require(ladder.nonEmpty && ladder == ladder.sorted && ladder.head >= k,
      s"ladder must be ascending, starting >= k: $ladder")
    // `exactPre`: the caller may materialize the brute leaf concurrently
    // with codebook training (independent eager jobs); must be
    // bruteForceTopK over the same (queries, corpus, k), checkpointed
    val exact = exactPre.getOrElse(graft.plans.LeafPlanRegistry.record(
      Similarity.bruteForceTopK(queries, corpus, idCol, vecCol, k))
      .localCheckpoint())
    // the deepest ADC ranking, immediately restricted to the EXACT
    // pairs (broadcast semi-join, |queries|·k rows out): the window
    // must rank every candidate — that is the TOTAL rule's inherent
    // calibration cost — but nothing wider than the exact set may
    // shuffle, broadcast, or materialize past it (at the 2M-vector
    // ladder the unrestricted rank table is |queries|·n ≈ 64M rows)
    val firstStep = graft.plans.LeafPlanRegistry.record(
      searchADC(cb, codes, queries, idCol, vecCol, ladder.last)
        .select(col("query_id"), col("neighbor_id"),
          col("rnk").as("first_step")))
      .join(broadcast(exact.select("query_id", "neighbor_id")),
        Seq("query_id", "neighbor_id"))
    Similarity.materializeLadder(Similarity.recallLadderAgg(
      exact.select("query_id", "neighbor_id")
        .join(broadcast(firstStep), Seq("query_id", "neighbor_id"),
          "left_outer"),
      ladder, "shortlist"), exact)
  }

  /** Two-stage serve: ADC shortlist of `shortlist` candidates per
    * query, then EXACT cosine re-rank of only those rows — the standard
    * compressed-index accuracy recovery. The corpus-wide pass still
    * touches only the code column; full vectors are fetched for just
    * |queries| × shortlist rows, via an equi join with the BROADCAST
    * shortlist, so the vector store is scanned once and never
    * shuffled. */
  def searchAdcRerank(cb: Codebook, codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      shortlist: Int): DataFrame =
    rerankExact(
      searchADC(cb, codes, queries, idCol, vecCol, shortlist)
        .select("query_id", "neighbor_id"),
      corpus, queries, idCol, vecCol, k)

  /** THE exact-cosine re-rank stage, shared by both two-stage serves:
    * full vectors are fetched for just |queries| × shortlist rows via an
    * equi join with the BROADCAST shortlist, so the vector store is
    * scanned once and never shuffled. */
  private[sim] def rerankExact(short: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val nv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"))
    topKByCos(
      nv.join(broadcast(short.join(qv, Seq("query_id"))), Seq("neighbor_id"))
        .withColumn("cos", Similarity.cosine(col("q_vec"), col("n_vec"))), k)
  }

  /** OPQ-style seeded orthogonal rotation (FAISS `OPQMatrix`'s random-
    * rotation baseline / the SRHT construction): sign-flip ∘ Hadamard ∘
    * permutation, R[i][perm(j)] = signs(i) · H(i,j) / √dim with
    * H(i,j) = (−1)^popcount(i AND j) (Sylvester). Orthogonal by
    * construction, so distances — and the brute-force truth — are
    * preserved; what changes is how VARIANCE lands across PQ subspaces:
    * the Hadamard mixes every input dimension into every output one, so
    * a corpus whose energy concentrates in a few leading dimensions
    * (the decaying-spectrum shape real embeddings have) gets each
    * m-slice an equal share, which is the entire OPQ premise. A trained
    * rotation (alternating Lloyd/SVD) squeezes a little more; the
    * seeded form needs no training pass and is exactly replayable.
    *
    * Cross-engine exactness: at power-of-4 dims (64 here) 1/√dim is a
    * power of two, so every entry is ±2^-k — float-exact, and each
    * product entry·x is an EXACT double (exponent shift). The matrix is
    * embedded as literals on BOTH engines (the LSH-coefficient replay
    * discipline), and the matvec folds index-ascending via the same
    * vec_dot / list_aggregate pair every other oracle leans on. */
  def seededRotation(dim: Int, seed: Long): Array[Array[Float]] = {
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"dim=$dim must be a power of two (Sylvester Hadamard)")
    val rnd = new java.util.Random(seed)
    val perm = Array.tabulate(dim)(identity)
    var i = dim - 1
    while (i > 0) { // Fisher-Yates, as specified by java.util.Random
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val signs = Array.fill(dim)(if (rnd.nextBoolean()) 1f else -1f)
    val scale = (1.0 / math.sqrt(dim.toDouble)).toFloat
    Array.tabulate(dim) { r =>
      val row = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        val h = if (java.lang.Integer.bitCount(r & j) % 2 == 0) 1f else -1f
        row(perm(j)) = signs(r) * h * scale
        j += 1
      }
      row
    }
  }

  /** Apply a rotation as a pure map stage: y_i = vec_dot(x, R_i) with
    * each row a broadcast literal — zero shuffle, rotates 100 TB as a
    * projection. Composes with the existing [[train]]/[[encode]]/
    * search paths unchanged: OPQ is rotate-then-PQ, nothing else. */
  def rotate(df: DataFrame, idCol: String, vecCol: String,
      rot: Array[Array[Float]]): DataFrame =
    // one MatVecFloat reference-object expression: the composed
    // array-of-vec_dot form carries dim² literals, overflows janino's
    // 64 KB method limit at dim 64 (6955 generated lines, failed
    // compile, interpreted fallback — measured on q177's encode stage)
    // and pays plan analysis per job; values are bit-identical
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), mat_vec_f(col(vecCol), rot).as(vecCol))

  /** Fixed-point cross-covariance sufficient statistics for the OPQ
    * Procrustes step: `s[(i·m + sub)·ksub + cell]` = Σ over corpus rows
    * assigned to (sub, cell) of `floor(x_i · 1e9)` (x = the UNROTATED
    * vector), an exact BIGINT sum — order-free, so oracle-replayable.
    * The full d×d cross-covariance `C = XᵀŶ` then folds out of these
    * d·m·ksub longs and the codebook alone (ŷ is piecewise-constant per
    * (sub, cell)): the corpus is touched ONCE per OPQ iteration and
    * never shuffles anything wider than 2048 keyed sums. */
  private def crossCovFp(rel: DataFrame, vecCol: String,
      dim: Int, m: Int, ksub: Int): Array[Long] = {
    // `rel` carries BOTH the unrotated vector and its code array in one
    // relation (the caller computes codes in the same projection), so
    // the x↔codes pairing that used to be an id equi-join is free — one
    // corpus pass, zero joins. The keyed sums fold in a single-stage job
    // over the UN-exploded rows ([[TrainFold.codesCrossSums]]) — the
    // posexplode × sequence-explode form blew each row up m·dim× (512×
    // at dim 64 / m 8) and shuffled the blowup onto dim·m·ksub keys;
    // the (i, sub, cell) groups and their exact long sums are identical.
    TrainFold.codesCrossSums(
      rel.select(col("codes"), col(vecCol)), m, ksub, dim)
  }

  /** Orthogonal polar factor by FIXED-COUNT Newton–Schulz iteration:
    * z₀ = A/‖A‖_F (σ_max ≤ 1, inside the convergence basin), then
    * `z ← z·(3I − zᵀz)/2` exactly `iters` times. Every fold is
    * index-ascending double arithmetic — the same left-to-right
    * discipline as [[norm2]] — so the result is bit-identical to the
    * DuckDB replay whatever the convergence state; `iters` is part of
    * the operator's definition, not a tolerance. Row-major d×d. */
  private[sim] def polarNS(a: Array[Double], d: Int, iters: Int): Array[Double] = {
    var fro = 0.0
    var t = 0
    while (t < d * d) { fro += a(t) * a(t); t += 1 }
    fro = math.sqrt(fro)
    var z = Array.tabulate(d * d)(i => a(i) / fro)
    var it = 0
    while (it < iters) {
      val ztz = new Array[Double](d * d)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          var acc = 0.0
          var k = 0
          while (k < d) { acc += z(k * d + i) * z(k * d + j); k += 1 }
          ztz(i * d + j) = acc
          j += 1
        }
        i += 1
      }
      val nz = new Array[Double](d * d)
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          var acc = 0.0
          var k = 0
          while (k < d) {
            acc += z(i * d + k) *
              ((if (k == j) 3.0 else 0.0) - ztz(k * d + j))
            k += 1
          }
          nz(i * d + j) = 0.5 * acc
          j += 1
        }
        i += 1
      }
      z = nz
      it += 1
    }
    z
  }

  /** TRAINED OPQ rotation (the knob q175's honest negative named):
    * FAISS `OPQMatrix`-style alternating optimization — rotate, fit the
    * PQ codebook in the rotated space, then update the rotation to the
    * orthogonal Procrustes optimum against the code reconstruction,
    * `R = argmin_{RᵀR=I} ‖XRᵀ − Ŷ‖_F = polar(Cᵀ)` with `C = XᵀŶ` the
    * cross-covariance. Differences from the textbook SVD recipe, chosen
    * for cross-engine replayability (the Lloyd-loop discipline):
    *
    *  - `C` folds out of FIXED-POINT sufficient statistics
    *    ([[crossCovFp]] — the only corpus-wide sums, exact BIGINTs);
    *  - the polar factor comes from a fixed-count Newton–Schulz
    *    iteration ([[polarNS]]) instead of an SVD — pure
    *    index-ascending double arithmetic, bit-replayable in SQL,
    *    quadratically convergent so `nsIters = 60` reaches machine-
    *    precision orthogonality on non-degenerate cross-covariances
    *    (spec'd: ‖RᵀR − I‖∞ < 1e-6 on real data);
    *  - seeded start = [[seededRotation]] (q175's baseline), so
    *    iteration 0 IS the measured baseline and every improvement is
    *    attributable to training.
    *
    * Returns the float-rounded rotation and the codebook trained in the
    * FINAL rotated space (the pair [[rotate]]→[[encode]]→[[searchADC]]
    * serve with, unchanged). Deterministic for any input order and
    * partitioning; q177 pins one full alternation cross-engine. */
  def trainOpq(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int, opqIters: Int = 1, nsIters: Int = 60, rotSeed: Long = 7L,
      trainSixteenths: Int = 16): (Array[Array[Float]], Codebook) = {
    require(opqIters >= 1, "opqIters must be >= 1")
    val clean = corpus.filter(col(vecCol).isNotNull)
    // the Procrustes statistics honor the same training sample as the
    // Lloyd fits — at 100 TB both read the calibration slice, never the
    // full corpus (the final encode/serve still covers everything)
    val trainRel = if (trainSixteenths >= 16) clean
      else graft.ops.Extended.hashSample(clean, idCol, trainSixteenths)
    // ONE TakeOrdered collect supplies the init sample for EVERY inner
    // train call AND the dim probe (replacing a dedicated head() job
    // plus one init collect per train): the init ids are rotation-
    // invariant — the h60 hash keys on the id alone and rotate() keeps
    // exactly the non-null rows — so each train's init is these SAME
    // rows rotated, computed driver-side with the IDENTICAL
    // MatVecFloat.compute the rotate() expression runs (zero drift by
    // construction; TrainFoldSpec pins it against the collected form).
    val initHash = graft.text.TextAnalysis.h60(
      concat(col(idCol).cast("string"), lit(":"), lit(42L).cast("string")))
    val initRaw: Array[Array[Float]] = trainRel.select(col(vecCol))
      .orderBy(initHash, col(idCol)).limit(ksub).collect()
      .map(_.getSeq[Float](0).toArray)
    require(initRaw.length == ksub,
      s"training sample (${initRaw.length} vectors) smaller than ksub=$ksub")
    val dim = initRaw.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    def rotatedInit(r: Array[Array[Float]]): Array[Array[Double]] =
      initRaw.map { v =>
        val out = graft.functions.MatVecFloat.compute(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), r)
        Array.tabulate(out.numElements())(i => out.getFloat(i).toDouble)
      }
    // rank(Ŷ) ≤ m·min(ksub, dsub): with fewer centroids than dimensions
    // per subspace the cross-covariance C = XᵀŶ is structurally rank-
    // deficient, the polar factor is undefined on its null space, and
    // Newton–Schulz (or any Procrustes solver) returns garbage there —
    // measured: ‖RᵀR − I‖∞ ≈ 1 at m=4/ksub=8/dim=64. Demand the
    // full-rank configuration instead of converging to noise.
    require(ksub >= dsub,
      s"trainOpq needs ksub ($ksub) >= dsub ($dsub): the Procrustes " +
        "cross-covariance is rank-deficient when each subspace has fewer " +
        "centroids than dimensions — raise ksub or m")
    var rot = seededRotation(dim, rotSeed)
    var it = 0
    while (it < opqIters) {
      val rotated = rotate(trainRel, idCol, vecCol, rot)
      val cb = train(rotated, idCol, vecCol, m, ksub,
        trainSixteenths = 16, // trainRel is already the sample
        initVecs = Some(rotatedInit(rot)))
      // x and codes(rotate(x)) in ONE projection: same values as
      // encode(rotated) joined back on id, without the join
      val withCodes = trainRel.filter(col(vecCol).isNotNull)
        .select(col(vecCol),
          codesExpr(cb, mat_vec_f(col(vecCol), rot)).as("codes"))
      val sfp = crossCovFp(withCodes, vecCol, dim, m, ksub)
      // C[i][j] = Σ_cell s[i][sub_j][cell] · c_{sub_j,cell}[j % dsub]
      // (cell-ascending fold, DOUBLE codebook — the same copy encode
      // assigns with); then A = Cᵀ because rotate() computes y = R·x,
      // i.e. Y = XRᵀ, and tr(R·C) is maximized at R = polar(Cᵀ)
      val a = new Array[Double](dim * dim)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          val sub = j / dsub; val jl = j % dsub
          var acc = 0.0
          var cell = 0
          while (cell < ksub) {
            acc += sfp((i * m + sub) * ksub + cell).toDouble *
              cb.centroids(sub)(cell)(jl)
            cell += 1
          }
          a(j * dim + i) = acc // transposed in place
          j += 1
        }
        i += 1
      }
      val z = polarNS(a, dim, nsIters)
      rot = Array.tabulate(dim)(r =>
        Array.tabulate(dim)(c => z(r * dim + c).toFloat))
      it += 1
    }
    val cbF = train(rotate(trainRel, idCol, vecCol, rot), idCol, vecCol,
      m, ksub, trainSixteenths = 16, initVecs = Some(rotatedInit(rot)))
    (rot, cbF)
  }

  /** The corpus as (id, residual, cell): each vector minus its coarse
    * centroid — the relation residual PQ trains and encodes on. Float
    * subtraction against the SERVED (float) centroids, so the oracle
    * can replay it bit for bit; a broadcast of the KiB centroid table,
    * zero shuffle. */
  private[sim] def residualCells(ivf: IvfIndex.Model, idCol: String,
      vecCol: String): DataFrame =
    ivf.cells.filter(col(vecCol).isNotNull)
      .join(broadcast(ivf.centroids), Seq("cell"))
      .select(col(idCol),
        // codegen'd element-wise difference — the zip_with lambda it
        // replaces interprets per element on a full-corpus projection
        vec_sub_f(col(vecCol), col("centroid")).as(vecCol),
        col("cell"))

  /** Residual PQ training (FAISS `by_residual=true`, step 1): codebooks
    * fitted on `r = x − centroid(cell)` instead of raw vectors. The
    * payoff is geometric: residuals of a trained coarse quantizer
    * concentrate near the origin with most of the between-cell variance
    * already explained, so the same m×ksub code budget quantizes a much
    * tighter distribution — recall rises at identical code size
    * (measured in BASELINE r12). Same deterministic Lloyd machinery as
    * [[train]], just over the residual relation. */
  def trainResidual(ivf: IvfIndex.Model, idCol: String, vecCol: String,
      m: Int, ksub: Int, trainSixteenths: Int = 16): Codebook =
    train(residualCells(ivf, idCol, vecCol), idCol, vecCol, m, ksub,
      trainSixteenths = trainSixteenths)

  /** Residual IVF∘PQ search (FAISS `IndexIVFPQ` with `by_residual=true`):
    * codes are residual codes, and each probed cell gets its OWN
    * distance table built from the cell's residual query `q − c`. The
    * per-query constant the raw-vector ADC drops (`|v|²`) is NOT
    * constant here — `|q − c|²` differs per probed cell, so dropping it
    * would make distances incomparable ACROSS cells of one query; it is
    * added back as a per-(query, cell) fixed-point term, making the
    * pair cost exactly `‖(q−c) − r̂‖²` in the same exact-long arithmetic
    * as the flat ADC. Cost shape unchanged from [[searchIvfAdc]]: the
    * broadcast grows from |queries| to |queries|·nprobe distance
    * tables (still KiB each), the cell scan still reads only codes. */
  def searchIvfAdcResidual(ivf: IvfIndex.Model, cb: Codebook,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    val res = residualCells(ivf, idCol, vecCol)
    val cellCodes = res.select(col(idCol).as("neighbor_id"), col("cell"),
      codesExpr(cb, col(vecCol)).as("codes"))
    val probesR = IvfIndex.probesFor(ivf.centroids, queries, idCol, vecCol,
        nprobe)
      .join(broadcast(ivf.centroids), Seq("cell"))
      .withColumn("q_res", vec_sub_f(col("q_vec"), col("centroid")))
      .select(col("query_id"), col("cell"),
        dtabFp(cb, col("q_res")).as("dtab"),
        floor(vec_dot(col("q_res"), col("q_res")) * lit(1e9)).cast("long")
          .as("qnorm_fp"))
    topKByAdc(
      cellCodes.join(broadcast(probesR), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist_fp", adcDistCol(cb) + col("qnorm_fp")), k)
  }

  /** IVF∘PQ search (FAISS `IndexIVFPQ` with `by_residual=false`): the
    * coarse quantizer picks `nprobe` cells per query, PQ codes pay the
    * per-pair cost. The two stages compose without re-touching the
    * corpus: codes are computed from the cells relation in the same
    * map stage that the cell assignment already produced. Probe rows
    * carry their ADC table into an equi join on `cell`, so each query
    * reads ONLY its probed cells' code rows — corpus fraction ≈
    * nprobe/nlist, and of that only the m-byte code column. */
  def searchIvfAdc(ivf: IvfIndex.Model, cb: Codebook, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cellCodes = ivf.cells.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col("cell"),
        codesExpr(cb, col(vecCol)).as("codes"))
    val q = broadcast(
      IvfIndex.probesFor(ivf.centroids, queries, idCol, vecCol, nprobe)
        .select(col("query_id"), col("cell"), dtabFp(cb, col("q_vec")).as("dtab")))
    topKByAdc(
      cellCodes.join(q, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist_fp", adcDistCol(cb)), k)
  }
}
