package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class IvfIndexSpec extends SparkSpec {
  private lazy val emb = Tables(spark, sf("sf0.01"), "embeddings")
  private lazy val model = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)

  test("build assigns every vector to exactly one of nlist cells") {
    assert(model.cells.count() == emb.count())
    val cells = model.cells.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 8).toSet) && cells.nonEmpty)
    assert(model.centroids.count() == 8)
  }

  test("full probe (nprobe = nlist) equals brute force exactly") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf = IvfIndex.search(model, queries, "vec_id", "embedding", k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == brute)
  }

  test("partial probe trades recall for scan fraction, never beats brute") {
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = IvfIndex.search(model, queries, "vec_id", "embedding", k = 3, nprobe = 3)
      .collect()
    val pairs = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & pairs).size.toDouble / brute.size
    // 3/8 of the corpus scanned; on structure-free embeddings recall
    // tracks that fraction — assert a sane band, and full result counts
    assert(recall > 0.15, s"recall=$recall")
    assert(ivf.length == 24) // 8 queries × k=3 — cells are dense enough
    // ANN best cosine per query never exceeds brute best
    val bruteBest = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    ivf.filter(_.getLong(1) == 1L).foreach { r =>
      assert(r.getDouble(3) <= bruteBest(r.getLong(0)) + 1e-12)
    }
  }

  test("search is deterministic across invocations") {
    val queries = emb.filter(col("vec_id") < 3)
    def run() = IvfIndex.search(model, queries, "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run() == run())
  }

  test("persisted index probe partition-prunes and matches in-memory search") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    IvfIndex.save(model, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val inMem = IvfIndex.search(model, queries, "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val indexed = IvfIndex.searchIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val got = indexed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == inMem)
    // the probed-cell IN filter must reach the parquet scan as a
    // partition filter — only the probed cell directories are listed
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan)
  }

  test("save lands each cell as ONE data file (repartition-by-cell before partitionBy)") {
    // without the shuffle every write task emits a file per cell it
    // holds → tasks × nlist files; with it each cell is wholly inside
    // one task. Repartition the source 8 ways first so the failure mode
    // (8 tasks × cells files) is actually reachable in this spec.
    val spread = IvfIndex.build(emb.repartition(8), "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_files").toString
    IvfIndex.save(spread, dir)
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${d.getName}: $parts data files, want exactly 1")
    }
  }

  test("append rejects vectors whose length differs from the stored dim, in every layout") {
    // NearestCell scores over the shorter of the two lengths, so a
    // 32-dim batch would otherwise land in cells chosen by a prefix
    val short = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500000L).as("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_dim").toString
    IvfIndex.save(model, dir)
    val e = intercept[Exception](
      IvfIndex.append(spark, dir, short, "vec_id", "embedding"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")
    assert(messages.contains("does not match the index dim 64: 32"), messages)
    // the failed append left the standing index as it was
    assert(spark.read.parquet(s"$dir/cells").count() == emb.count())
  }

  test("occupancy advisor: footer-only stats; stationary appends don't trip the retrain rule, drift does") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_advisor").toString
    IvfIndex.save(model, dir)
    val base = IvfIndex.occupancyStats(spark, dir).head()
    assert(base.getAs[Long]("n_vecs") == emb.count())
    val baseImb = base.getAs[Double]("imbalance")
    assert(baseImb >= 1.0, s"imbalance $baseImb below the balanced floor")
    // NO data scan: the per-cell counts group by the partition column
    // with an empty data projection — parquet footers answer it
    val statsPlan = IvfIndex.occupancyStats(spark, dir)
      .queryExecution.executedPlan.toString
    assert(statsPlan.contains("ReadSchema: struct<>"), statsPlan)
    // stationary append: same distribution, offset ids — the imbalance
    // stays at the build-time level
    IvfIndex.append(spark, dir,
      emb.select((col("vec_id") + 500000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val stationary = IvfIndex.occupancyStats(spark, dir).head()
      .getAs[Double]("imbalance")
    assert(math.abs(stationary - baseImb) < 1e-9,
      s"stationary append moved imbalance $baseImb -> $stationary")
    // drifted append: a constant translation moves the whole cloud into
    // one octant, so the frozen quantizer piles it into the few cells
    // facing the shift — the imbalance must rise. (Negation is NOT drift
    // here: the corpus is symmetric about the origin, measured
    // imbalance 1.02.)
    IvfIndex.append(spark, dir,
      emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(4.0f)).as("embedding")),
      "vec_id", "embedding")
    val drifted = IvfIndex.occupancyStats(spark, dir).head()
      .getAs[Double]("imbalance")
    assert(drifted > stationary, s"drift lowered imbalance? $stationary -> $drifted")
  }

  test("append: new vectors join the index without retraining; full probe == brute force over the union") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val firstHalf = emb.filter(col("vec_id") % 2 === 0)
    val secondHalf = emb.filter(col("vec_id") % 2 === 1)
    IvfIndex.save(IvfIndex.build(firstHalf, "vec_id", "embedding", nlist = 8), dir)
    IvfIndex.append(spark, dir, secondHalf, "vec_id", "embedding")
    // the appended index covers the whole corpus
    val appended = IvfIndex.load(spark, dir)
    assert(appended.cells.count() == emb.count())
    // appended vectors are assigned under the EXISTING centroids: cell
    // ids stay in range and searchIndexed at full probe reproduces brute
    // force over the UNION — proof the new rows are really in the index
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = IvfIndex.searchIndexed(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
  }
}
