package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scalar and binary quantization — the two remaining FAISS compression
  * families next to [[PqIndex]]'s product quantization:
  *
  *  - SQ8 (FAISS `IndexScalarQuantizer(QT_8bit)` / `IndexIVFScalarQuantizer`):
  *    each dimension is independently affine-mapped onto one byte by its
  *    trained per-dimension [min, max] range — 4× less memory than
  *    float32 with near-exact ranking (each coordinate keeps 8 bits,
  *    where PQ keeps log2(ksub) bits per SUBSPACE). The right point on
  *    the memory/recall curve when vectors almost fit: a 100 TB float
  *    corpus becomes 25 TB of codes with recall ≈ 1, no codebook
  *    training loop, and the model is 2·dim doubles.
  *  - Binary quantization (sign bits against the per-dimension mean,
  *    FAISS `IndexBinaryFlat` as the shortlist stage of a two-stage
  *    serve): one bit per dimension (two 60-bit-packed words at dim 64
  *    — 16× less memory than the floats) and the
  *    pair cost is one XOR+popcount per 64 dims, the cheapest possible
  *    scan. Recall comes from the exact-cosine re-rank on the hamming
  *    shortlist (the [[PqIndex.searchAdcRerank]] shape); at
  *    shortlist ≥ |corpus| the serve IS brute force (SqIndexSpec pins
  *    that endpoint), so its shortlist ladder has the same total-rule
  *    property as the ADC one.
  *
  * Determinism (the q65/q133 discipline): training is one min/max (SQ)
  * or one fixed-point-sum mean (binary) aggregation — both exactly
  * order-independent; encode and every distance term are closed-form
  * IEEE double arithmetic with a pinned operation order, fixed-pointed
  * (`floor(·1e9)` long) per dimension BEFORE the per-pair sum, so both
  * search paths are exact integer rankings replayable bit for bit by
  * the DuckDB oracle (q184/q185/q186 are full hash compares).
  */
object SqIndex {

  /** Per-dimension affine ranges: `vmin(d)` and `vdiff(d) = vmax − vmin`
    * (2·dim doubles — KiB, plan-literal-sized like every model here). */
  final case class Model(dim: Int, vmin: Array[Double], vdiff: Array[Double])

  /** Train the per-dimension ranges in ONE aggregation pass (min and
    * max are exactly order-independent — no fixed-point needed). At
    * 100 TB this is a single map-side-combining corpus scan; FAISS
    * trains QT_8bit from the identical statistic (RangeStat_minmax). */
  def train(corpus: DataFrame, idCol: String, vecCol: String): Model = {
    // a null vector would null out every min/max — drop like every
    // other embedding pass does, and probe dim from the clean relation
    val clean = corpus.filter(col(vecCol).isNotNull)
    val dim = clean.select(size(col(vecCol))).head().getInt(0)
    val aggs = (0 until dim).flatMap { d =>
      val x = element_at(col(vecCol), d + 1).cast("double")
      Seq(min(x).as(s"mn_$d"), max(x).as(s"mx_$d"))
    }
    val r = clean.agg(aggs.head, aggs.tail: _*).head()
    val vmin = Array.tabulate(dim)(d => r.getAs[Double](s"mn_$d"))
    val vdiff = Array.tabulate(dim)(d => r.getAs[Double](s"mx_$d") - vmin(d))
    Model(dim, vmin, vdiff)
  }

  /** The dim-slot byte-code vector of `vecCol` under the trained ranges
    * — FAISS `Codec8bit::encode_component`: `floor(255·(x−vmin)/diff)`.
    * Closed under the training corpus (min/max came from it), so codes
    * land in [0, 255] with no clamp: double subtraction and division
    * are monotone, x = vmax divides to exactly 1.0. A constant
    * dimension (diff = 0) codes as 0 and reconstructs to vmin. A pure
    * codegen'd row expression, usable in any projection. */
  def codesExpr(m: Model, vecCol: Column): Column =
    // codegen'd one-pass encode ([[graft.functions.SqEncode]]) — the
    // zip_with lambda it replaces interpreted per element on the
    // corpus-wide rewrite (the SqAdcDist lesson, write side); identical
    // floor/divide arithmetic, oracle hashes unchanged (q184/q185)
    graft.functions.VectorFunctions.sq_encode(vecCol, m.vmin, m.vdiff)

  /** Compress the corpus to (id, codes) — a zero-shuffle map stage, the
    * 4×-smaller rewrite of the float store. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      m: Model): DataFrame =
    // null vectors drop (a NULL code row would sort FIRST in every
    // asc-distance ranking)
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), codesExpr(m, col(vecCol)).as("codes"))

  /** Asymmetric per-pair distance over a `codes`/`q_vec` pair of
    * columns: reconstruct `r_d = vmin + (code + 0.5)·diff / 255`
    * (FAISS `Codec8bit::decode_component` — the half-step centers each
    * byte's quantization bin) and fold the rank-equivalent Euclidean
    * term `r² − 2·q_d·r` (the per-query `|q|²` constant is dropped,
    * exactly like [[PqIndex]]'s ADC), fixed-pointed per DIMENSION so
    * the per-pair total is an exact long sum. A codegen'd native
    * expression ([[graft.functions.SqAdcDist]]): the zip_with/aggregate
    * fold it replaces interpreted its lambda per element — measured 8×
    * slower than brute force at dim 64, inverting the point of a
    * compressed scan (oracle hashes unchanged by the swap: q184/q185). */
  private def sqDistCol(m: Model): Column =
    graft.functions.VectorFunctions.sq_adc_dist(col("codes"), col("q_vec"),
      m.vmin, m.vdiff)

  /** SQ8 asymmetric top-k (FAISS `IndexScalarQuantizer` search):
    * broadcast the queries, stream the CODE column of the corpus once —
    * the only shuffle is the per-query top-k window. */
  def searchSqAdc(m: Model, codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // a null query vector would null every distance → asc ranks the k
    // lowest-id rows as "nearest"; drop it (the PqIndex.searchADC guard)
    val q = broadcast(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    PqIndex.topKByAdc(
      codes.withColumnRenamed(idCol, "neighbor_id")
        .crossJoin(q)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist_fp", sqDistCol(m)), k)
  }

  /** IVF∘SQ8 (FAISS `IndexIVFScalarQuantizer`, by_residual=false): the
    * coarse quantizer picks `nprobe` cells, SQ8 codes pay the per-pair
    * cost — each query reads only its probed cells' code rows, and of
    * the corpus only the byte-code column (nprobe/nlist of a store
    * already 4× smaller). The reconstruction is GLOBAL (not residual),
    * so the dropped `|q|²` stays constant per query across cells and
    * cross-cell comparability holds by construction. */
  def searchIvfSq(ivf: IvfIndex.Model, m: Model, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cellCodes = ivf.cells.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col("cell"),
        codesExpr(m, col(vecCol)).as("codes"))
    PqIndex.topKByAdc(
      cellCodes.join(
        broadcast(IvfIndex.probesFor(ivf.centroids, queries, idCol, vecCol, nprobe)),
        Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist_fp", sqDistCol(m)), k)
  }

  // ---------------------------------------------------------------- binary

  /** Per-dimension means for the sign threshold, via the fixed-point
    * discipline (`floor(x·1e9)` long sums — exact and order-independent,
    * then the same long→double divide chain as every Lloyd update), so
    * the trained threshold is identical under any partitioning and
    * replayable by the oracle. Binarizing against the MEAN rather than
    * zero keeps the bits balanced on un-centered corpora (a dimension
    * that never crosses zero would otherwise waste its bit). */
  def binaryMeans(corpus: DataFrame, idCol: String, vecCol: String): Array[Double] = {
    val clean = corpus.filter(col(vecCol).isNotNull)
    val dim = clean.select(size(col(vecCol))).head().getInt(0)
    val sums = (0 until dim).map(d =>
      sum(floor(element_at(col(vecCol), d + 1).cast("double") * lit(1e9))
        .cast("long")).as(s"s_$d"))
    val r = clean.agg(count(lit(1)).as("n"), sums: _*).head()
    val n = r.getAs[Long]("n").toDouble
    Array.tabulate(dim)(d => r.getAs[Long](s"s_$d") / n / 1e9)
  }

  /** Pack the sign bits (`x_d > mean_d`) into ⌈dim/60⌉ longs — bit `b`
    * of word `w` is dimension `60w + b`. 60 bits per word is the
    * signed-safe packing the simhash family already uses (bit 63 would
    * overflow DuckDB's BIGINT shift and buy nothing but a negative
    * word); at dim 64 a vector is TWO longs — still 16× less memory
    * than the floats — and hamming distance is one XOR+popcount per
    * word. */
  def binCodeExpr(means: Array[Double], vecCol: Column): Column =
    // codegen'd one-pass packing ([[graft.functions.BinSignPack]]) —
    // the composed form carried dim when/element_at subtrees per plan;
    // identical bits (missing/null dims → 0, like the null-propagating
    // when it replaces)
    graft.functions.VectorFunctions.bin_sign_pack(vecCol, means)

  /** Compress the corpus to (id, bcode) — zero-shuffle map stage. */
  def encodeBinary(corpus: DataFrame, idCol: String, vecCol: String,
      means: Array[Double]): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), binCodeExpr(means, col(vecCol)).as("bcode"))

  /** Hamming distance between two packed-word code columns — codegen'd
    * ([[graft.functions.HammingWords]]); the zip_with/aggregate fold it
    * replaces interpreted two lambdas per pair on the corpus × query
    * hamming scan. */
  def hammingWords(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.hamming_words(a, b)

  /** Two-stage binary serve: hamming shortlist over the packed sign
    * bits (ties by lowest id — deterministic like every ranking here),
    * then THE shared exact-cosine re-rank ([[PqIndex.rerankExact]]) over
    * just |queries| × shortlist full vectors. At 100 TB the scan stage
    * touches 1/16 of the bytes brute force would, and the vector store
    * is read only for the shortlist rows via the broadcast equi join.
    * At shortlist ≥ |corpus| this IS [[Similarity.bruteForceTopK]]. */
  def searchBinaryRerank(means: Array[Double], bcodes: DataFrame,
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, shortlist: Int): DataFrame = {
    val q = broadcast(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        binCodeExpr(means, col(vecCol)).as("q_bcode")))
    val w = Window.partitionBy("query_id").orderBy(asc("hamming"), asc("neighbor_id"))
    val short = bcodes.withColumnRenamed(idCol, "neighbor_id")
      .crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hammingWords(col("bcode"), col("q_bcode")))
      .withColumn("hrnk", row_number().over(w))
      .filter(col("hrnk") <= shortlist)
      .select("query_id", "neighbor_id")
    PqIndex.rerankExact(short, corpus, queries, idCol, vecCol, k)
  }

  /** Pooled recall@k of the binary two-stage serve at each ladder
    * shortlist — the binary member of the recall-sizing family, and a
    * TOTAL rule like the ADC one ([[PqIndex.shortlistLadder]] ends
    * exactly at the corpus count, where the re-rank covers everything
    * and IS brute force).
    *
    * Collapsed via the shared subset-rank argument
    * ([[Similarity.recallLadderAgg]]) with one twist: the SHORTLIST
    * stage ranks by hamming, a different order than the exact side —
    * but the RE-RANK stage ranks by the exact cosine order, so a true
    * top-k pair that enters any shortlist always survives its top-k
    * cut (fewer than k corpus rows beat it anywhere). Hit(s) therefore
    * reduces to hamming_rank ≤ s, and the curve costs ONE hamming
    * ranking (restricted to the broadcast exact set before anything
    * wider materializes) plus one ladder aggregation. */
  def binaryRecallCurve(means: Array[Double], bcodes: DataFrame,
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, ladder: Seq[Int]): DataFrame = {
    require(ladder.nonEmpty && ladder == ladder.sorted && ladder.head >= k,
      s"ladder must be ascending, starting >= k: $ladder")
    val exact = graft.plans.LeafPlanRegistry.record(
      Similarity.bruteForceTopK(queries, corpus, idCol, vecCol, k))
      .localCheckpoint()
    val q = broadcast(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        binCodeExpr(means, col(vecCol)).as("q_bcode")))
    val w = Window.partitionBy("query_id").orderBy(asc("hamming"), asc("neighbor_id"))
    val firstStep = graft.plans.LeafPlanRegistry.record(
      bcodes.withColumnRenamed(idCol, "neighbor_id")
        .crossJoin(q)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("hamming", hammingWords(col("bcode"), col("q_bcode")))
        .withColumn("first_step", row_number().over(w))
        .select("query_id", "neighbor_id", "first_step"))
      .join(broadcast(exact.select("query_id", "neighbor_id")),
        Seq("query_id", "neighbor_id"))
    Similarity.materializeLadder(Similarity.recallLadderAgg(
      exact.select("query_id", "neighbor_id")
        .join(broadcast(firstStep), Seq("query_id", "neighbor_id"),
          "left_outer"),
      ladder, "shortlist"), exact)
  }
}
