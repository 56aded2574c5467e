package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.vec_dot
import graft.sources.ParquetMeta

/** IVF (inverted-file) approximate nearest neighbor — the scale path for
  * similarity search, complementing the hyperplane-LSH variant.
  *
  * Build: a KMeans coarse quantizer (`nlist` centroids, seeded →
  * reproducible) partitions the corpus into cells; the "index" is just
  * the corpus with a cell id — naturally storable partitioned/bucketed
  * by cell so a probe touches only matching files.
  *
  * Search: each query ranks centroids by exact Euclidean distance
  * (|c|² − 2q·c, computed with the codegen'd [[graft.functions.VectorDot]]),
  * keeps the best `nprobe` cells, and scans only those cells —
  * corpus-fraction ≈ nprobe/nlist per query. Centroids are tiny and
  * broadcast; the cell join is the only shuffle.
  */
object IvfIndex {

  final case class Model(cells: DataFrame, centroids: DataFrame, nlist: Int)

  /** `nlist` sizing for a corpus of `corpusSize` vectors: per-query cost
    * is the centroid scan (∝ nlist) plus the probed-cell scan
    * (∝ nprobe·corpus/nlist); the sum is minimized at nlist ≈ √corpus —
    * the standard FAISS sizing rule. Integer square root on purpose (no
    * floating-log edge at perfect squares), clamped to [1, maxNlist]
    * (isqrt(n) ≤ n for every n, so `build`'s training require can never
    * fail on a corpus sized by this helper). Companion to
    * [[Similarity.suggestedLshBits]] / `Skew.suggestedAsofBucketWidth`:
    * geometry must GROW with the corpus or per-cell population (and the
    * within-cell scan) grows linearly with scale. */
  def suggestedNlist(corpusSize: Long, maxNlist: Int = 65536): Int = {
    require(corpusSize >= 0 && maxNlist >= 1)
    if (corpusSize <= 1) return 1
    // isqrt seed corrected exactly below; the correction compares via
    // division (s² ≤ n ⟺ s ≤ n/s in integer arithmetic) because the
    // squared form overflows Long past n ≈ 9.2e18 and the overflowed
    // negative square would spin the loop for ~2.3e9 iterations
    var s = math.max(1L, math.sqrt(corpusSize.toDouble).toLong)
    while (s > 1 && s > corpusSize / s) s -= 1
    while (s + 1 <= corpusSize / (s + 1)) s += 1
    math.min(maxNlist.toLong, s).toInt
  }

  /** Nearest-centroid assignment as a native codegen'd expression
    * ([[graft.functions.NearestCell]]): the centroid matrix rides the
    * generated code's reference array, so every Lloyd iteration (new
    * centroid values, same source) reuses ONE compiled class instead of
    * paying a janino compile per iteration. */
  private def assignExpr(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.VectorFunctions.nearest_cell(vec, centroids)

  /** Train the quantizer and assign every corpus vector to its cell.
    *
    * Lloyd's algorithm expressed declaratively — no ML pipeline: each
    * iteration is ONE map-side-combining aggregation (`groupBy(cell)`
    * over per-dimension sums) against the codegen'd [[assignExpr]];
    * centroids live driver-side (nlist × dim doubles, KiB). The ML
    * KMeans it replaces spends multiple jobs + an RDD cache per
    * iteration on instrumentation a coarse quantizer doesn't need.
    *
    * `maxIter` is deliberately low: a coarse ANN quantizer needs balanced
    * cells, not converged clusters — extra iterations buy recall nothing
    * measurable and cost a full corpus pass each. Init is the `nlist`
    * lowest-`h60(id:seed)` vectors — deterministic random sampling (FAISS
    * trains IVF from a sample the same way), and, because h60 is the
    * md5-derived cross-engine hash and every later step is fixed-point
    * or bit-stable IEEE arithmetic, the ENTIRE training loop is
    * replayable by the DuckDB oracle (q65 is a full hash compare).
    *
    * `trainSixteenths < 16` trains the quantizer on a DETERMINISTIC
    * hash-sample of the corpus ([[graft.ops.Extended.hashSample]] on
    * `idCol` — the same cross-engine md5 discipline, so the oracle
    * replays the sample with one WHERE clause) while the final cell
    * assignment still covers every vector. At 100 TB this is the only
    * sane shape: each Lloyd iteration is a full pass over its training
    * relation, and a coarse quantizer fitted on 1/16th of the corpus is
    * statistically indistinguishable from one fitted on all of it (FAISS
    * caps training points per centroid the same way) — the full-corpus
    * passes bought nothing but time. Search quality is untouched in the
    * exact-probe sense: whatever centroids come out, a full-nprobe
    * search is exhaustive (SampledQuantizerSpec pins this). */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L, maxIter: Int = 3,
      trainSixteenths: Int = 16): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // a null vector would assign to a NULL cell, which getAs[Int]
    // silently unboxes to 0 — zeroing centroid 0's sums and skewing
    // every downstream assignment (semDeDup, balanced sampling, IVF∘PQ)
    // with no error; drop nulls at the shared quantizer, once
    val clean = corpus.filter(col(vecCol).isNotNull)
    val train = if (trainSixteenths >= 16) clean
      else graft.ops.Extended.hashSample(clean, idCol, trainSixteenths)
    val initHash = graft.text.TextAnalysis.h60(
      concat(col(idCol).cast("string"), lit(":"), lit(seed).cast("string")))
    var centroids: Array[Array[Double]] = train
      .select(col(vecCol)).orderBy(initHash, col(idCol))
      .limit(nlist).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(centroids.length == nlist,
      s"training sample (${centroids.length} vectors) smaller than nlist=$nlist — " +
        (if (trainSixteenths < 16) "raise trainSixteenths"
         else "the corpus itself is smaller than nlist; lower nlist"))
    // dim from the init sample instead of a dedicated head() job — one
    // fewer Spark job per build (same value for the fixed-dim corpora)
    val dim = centroids.head.length
    // fixed-point coordinate sums (the q64 trick): floor(x·1e9) longs add
    // exactly and order-independently, so the trained centroids are
    // IDENTICAL under any partitioning/merge order — a double sum would
    // drift with aggregation order on a real cluster and make the "index"
    // a nondeterministic function of task scheduling
    for (_ <- 0 until maxIter) {
      // one single-stage job per Lloyd round, no shuffle/AQE replan —
      // same exact fixed-point longs as the groupBy(cell) aggregation
      // it replaces (see [[TrainFold]]), so centroids are bit-identical
      val keyed = train.select(
        assignExpr(col(vecCol), centroids).as("k"), col(vecCol))
      val (counts, sums) = TrainFold.keyedFixedPointSums(keyed, nlist, dim)
      // empty cells keep their previous centroid
      var j = 0
      while (j < nlist) {
        if (counts(j) > 0L) {
          val n = counts(j).toDouble
          centroids(j) = Array.tabulate(dim)(i => sums(j * dim + i) / n / 1e9)
        }
        j += 1
      }
    }
    val cells = clean
      .select(col(idCol), col(vecCol),
        assignExpr(col(vecCol), centroids).as("cell"))
    val centroidDf = centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }
      .toDF("cell", "centroid")
    Model(cells, centroidDf, nlist)
  }

  /** The persisted float centroid relation as the double matrix the
    * assignment expression wants — index == cell (rows are dense
    * 0..nlist-1 by construction). */
  private def centroidMatrix(centroids: DataFrame): Array[Array[Double]] =
    centroids.orderBy("cell").collect()
      .map(r => r.getSeq[Float](r.fieldIndex("centroid")).map(_.toDouble).toArray)

  /** EVERY centroid's probe rank per query — the full ranking
    * [[probesFor]] truncates, exposed whole so the recall-curve
    * collapse ([[Similarity.ivfRecallCurve]]) can read "first nprobe at
    * which cell X would be probed" without one search per ladder step.
    * |queries| × nlist rows (queries are small by contract); ONE window
    * shuffle. The ordering here IS the probe discipline — any search
    * path and any rank consumer share this one definition. */
  private[sim] def probeRanks(centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val wProbe = Window.partitionBy("query_id").orderBy(asc("cdist"), asc("cell"))
    // a null query vector yields null cdist, which asc ranks FIRST —
    // the query would probe arbitrary cells and return garbage; drop it
    queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist",
        vec_dot(col("centroid"), col("centroid")) - lit(2.0) * vec_dot(col("q_vec"), col("centroid")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .select("query_id", "q_vec", "cell", "probe_rank")
  }

  /** Per-query probe set: the `nprobe` nearest centroids by exact
    * Euclidean distance (|c|² − 2q·c, codegen'd dot products). Shared
    * with [[PqIndex]]'s composed IVF∘PQ search, hence the (float)
    * centroids relation rather than a full [[Model]]. */
  private[sim] def probesFor(centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nprobe: Int): DataFrame =
    probeRanks(centroids, queries, idCol, vecCol)
      .filter(col("probe_rank") <= nprobe)
      .select("query_id", "q_vec", "cell")

  /** Top-k cosine over the probed cells; `cells` carries the corpus id
    * already renamed to `neighbor_id`. */
  private def topKInProbedCells(cells: DataFrame, probes: DataFrame,
      vecCol: String, k: Int): DataFrame =
    PqIndex.topKByCos(
      broadcast(probes).join(cells, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", Similarity.cosine(col("q_vec"), col(vecCol))), k)

  /** Top-k cosine neighbors per query, probing `nprobe` cells. */
  def search(model: Model, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame =
    topKInProbedCells(model.cells.withColumnRenamed(idCol, "neighbor_id"),
      probesFor(model.centroids, queries, idCol, vecCol, nprobe), vecCol, k)

  // ------------------------------------------------ persisted cell layout
  //
  // `$path/cells` holds the (id, vector) rows parquet-PARTITIONED BY
  // cell and `$path/centroids` the float coarse quantizer. At scale the
  // "index" is just this directory layout: [[save]] writes it,
  // [[append]] adds raw vectors under the frozen centroids, and
  // [[searchIndexed]] probes it with a partition-pruned scan that never
  // opens the other cells' files.

  /** THE partitioned write, shared by the cell layout and the LSH
    * index's band rows so neither can lose the discipline independently:
    * the `repartition(key)` before `partitionBy` is load-bearing at
    * scale — the key is computed by a map stage over corpus splits, so
    * every write task holds rows of ~every key and a bare `partitionBy`
    * would emit one file PER TASK PER KEY, tasks × nlist files
    * (measured: 45,248 files for 2M vectors / nlist=1414 / 32 tasks; at
    * 10k tasks × 65k cells a dead filesystem). One shuffle on the key
    * lands each key wholly inside one task → exactly one file per key
    * (spec-pinned in IvfIndexSpec and OperatorsSpec). */
  private[graft] def writeByKey(df: DataFrame, key: String, path: String,
      mode: SaveMode): Unit =
    df.repartition(col(key))
      .write.partitionBy(key).mode(mode).parquet(path)

  /** Persist the index: the vectors partitioned by cell plus the
    * centroids. `model.cells` is (id, vector, cell), as [[build]] and
    * [[load]] produce it. */
  def save(model: Model, path: String): Unit = {
    val idCol = model.cells.columns.head
    val vecCol = model.cells.columns(1)
    writeByKey(
      model.cells.filter(col(vecCol).isNotNull)
        .select(col(idCol), col(vecCol), col("cell")),
      "cell", s"$path/cells", SaveMode.Overwrite)
    model.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  def load(spark: SparkSession, path: String): Model = {
    val centroids = ParquetMeta.read(spark, s"$path/centroids")
    Model(ParquetMeta.read(spark, s"$path/cells"), centroids, centroids.count().toInt)
  }

  /** Incremental maintenance: assign NEW raw vectors to their nearest
    * cell under the STORED centroids and append them to the layout — no
    * retraining, no rewrite of the standing corpus (FAISS's `add` in
    * directory form); immediately visible to [[searchIndexed]]. A vector
    * whose length differs from the stored dim fails the write:
    * [[graft.functions.NearestCell]] would otherwise score a prefix and
    * file it under a meaningless cell. The check rides the write's own
    * projection, so it costs no Spark job. The quantizer slowly
    * staleness-drifts as the distribution moves — the standard IVF
    * trade; retrain with [[build]] when recall decays. */
  def append(spark: SparkSession, path: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val centroids = centroidMatrix(ParquetMeta.read(spark, s"$path/centroids"))
    val dim = centroids.head.length
    val checked = newVectors.filter(col(vecCol).isNotNull)
      .withColumn(vecCol, when(size(col(vecCol)) === dim, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"appended vector length does not match the index dim $dim: "),
          size(col(vecCol)).cast("string")))))
    writeByKey(
      checked.select(col(idCol), col(vecCol),
        assignExpr(col(vecCol), centroids).as("cell")),
      "cell", s"$path/cells", SaveMode.Append)
  }

  /** Cell-occupancy statistics of an index persisted by [[save]]
    * ([[append]] adds vectors under frozen centroids forever, so a
    * drifting corpus silently concentrates into few cells and recall
    * decays with no error anywhere). q180 reads it after a drifted
    * append and flags the retrain in-plan. ONE row out:
    * `(nlist, n_vecs, n_empty_cells, max_cell, max_cell_frac,
    * imbalance)` with `imbalance = nlist · Σ n_c² / N²` — FAISS's
    * imbalance factor: 1.0 is perfectly balanced, k means everything
    * sits in 1/k of the cells (expected within-cell scan cost is
    * exactly `imbalance` × the balanced cost).
    *
    * Cost: NO data scan. The per-cell counts group by the PARTITION
    * column with an empty data projection, so the parquet reader
    * answers from row-group metadata — directory listing + footers,
    * even on a 100 TB index (spec-pinned: the scan's ReadSchema is
    * empty). Sums are exact (HUGEINT-class decimals — n² overflows a
    * long past ~3e9 rows per cell), divisions double. */
  def occupancyStats(spark: SparkSession, path: String): DataFrame = {
    val nlist = ParquetMeta.read(spark, s"$path/centroids").count()
    val perCell = ParquetMeta.read(spark, s"$path/cells")
      .groupBy("cell").agg(count(lit(1)).as("n"))
    perCell.agg(
        lit(nlist).cast("int").as("nlist"),
        coalesce(sum(col("n")), lit(0L)).as("n_vecs"),
        (lit(nlist) - count(lit(1))).cast("long").as("n_empty_cells"),
        coalesce(max(col("n")), lit(0L)).as("max_cell"),
        coalesce(sum((col("n").cast("decimal(19,0)") *
            col("n").cast("decimal(19,0)")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("_ss"))
      .select(col("nlist"), col("n_vecs"), col("n_empty_cells"),
        col("max_cell"),
        (col("max_cell").cast("double") / col("n_vecs").cast("double"))
          .as("max_cell_frac"),
        ((lit(nlist).cast("decimal(38,0)") * col("_ss")).cast("double") /
          (col("n_vecs").cast("decimal(38,0)") *
            col("n_vecs").cast("decimal(38,0)")).cast("double"))
          .as("imbalance"))
  }

  /** Search a persisted index with STATIC partition pruning: the union
    * of all queries' probe cells (≤ nlist values, independent of query
    * count) is collected ONCE and pushed as a literal IN filter, so the
    * parquet scan lists only the probed cell directories — the 100 TB
    * path where nprobe/nlist of the corpus is read, verifiable as
    * `PartitionFilters` in the plan. The probe rows (query_id, q_vec,
    * cell) are re-served as a local relation — bounded by |queries| ×
    * nprobe, they feed both the IN filter and the broadcast join, and a
    * local list avoids the persist-without-unpersist leak a cached
    * two-consumer plan would carry. */
  def searchIndexed(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val probesPlan = probesFor(ParquetMeta.read(spark, s"$path/centroids"),
      queries, idCol, vecCol, nprobe)
    val probeRows = probesPlan.collect()
    val probedCells = probeRows.map(_.getAs[Int]("cell")).distinct.toSeq
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    val cells = ParquetMeta.read(spark, s"$path/cells")
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
      .withColumnRenamed(idCol, "neighbor_id")
    topKInProbedCells(cells, probes, vecCol, k)
  }
}
