package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Skew and sizing helpers (the 100 TB story's hot-key defenses).
  *
  * AQE's skew-join handling splits hot partitions of sort-merge joins at
  * runtime, but it cannot split one key of a keyed merge: the as-of join
  * needs a key's full time range in order. [[asofPreSplit]] restores
  * parallelism there by splitting each key into time buckets, and
  * [[suggestedAsofBucketWidth]] sizes those buckets from the corpus.
  * [[suggestedShufflePartitions]] sizes the shuffle-partition count
  * every shuffle shares.
  */
object Skew {

  /** Hot-key pre-split for the as-of join: the remedy named at
    * `plans/AsOfJoin.scala` — a keyed merge join puts all rows of one
    * key on one partition, and AQE cannot split it (the merge needs the
    * key's full time range in order). Splitting by a coarse time bucket
    * restores parallelism with identical results:
    *
    *  1. both sides get `_asof_bucket = floorDiv(ts, bucketWidth)`;
    *  2. for every left bucket, the latest right row from any EARLIER
    *     bucket is replicated in as a carry (a running-last window over
    *     per-bucket compacted rows — one row per key×bucket — merged
    *     with the left bucket list; no join, O(B log B) per key);
    *  3. the native as-of join runs on the composite key
    *     `(keys, _asof_bucket)` — a hot key now occupies
    *     timeRange/bucketWidth independent composite keys.
    *
    * Carry rows have `ts < bucketStart ≤ leftTs`, so they satisfy both
    * strict and non-strict semantics unchanged; within-bucket rows are
    * handled by the operator itself. `tsCol` must be numeric (cast
    * timestamps to epoch first). */
  def asofPreSplit(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, bucketWidth: Long, strict: Boolean = true): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // floor division that stays in long arithmetic (negative-safe):
    // Spark's `/` is double division, exact only under 2^53 — IntegralDivide
    // keeps extreme long timestamps (epoch-nanos) bucketing exactly
    def bucket(c: Column): Column = GraftBridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftBridge.toExpression(c - pmod(c, lit(bucketWidth))),
        GraftBridge.toExpression(lit(bucketWidth)),
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))
    val l2 = left.withColumn("_asof_bucket", bucket(col(tsCol)))
    val r2 = right.withColumn("_asof_bucket", bucket(col(tsCol)))

    val rRow = struct(right.columns.map(col).toSeq: _*)
    val perBucketLatest = r2
      .groupBy((keys :+ "_asof_bucket").map(col): _*)
      .agg(max_by(rRow, col(tsCol)).as("_row"))
    val leftBuckets = l2.select((keys :+ "_asof_bucket").map(col): _*).distinct()
    // carry for left bucket b = latest right row from any bucket < b.
    // NOT a key-equal join with a `_r_bucket < b` residual: that shape
    // is O(B_left × B_right) pairs per key before the re-aggregate, and
    // with a fine bucketWidth over a long time range it degenerates
    // quadratically — the exact hot-key blowup this helper exists to
    // prevent. Instead, left buckets (probe rows, null payload) and
    // per-bucket latest right rows (data rows) merge into ONE per-key
    // sequence ordered by (bucket, probe-before-data); the running
    // `last` non-null payload at a probe row is then the latest right
    // row from any strictly earlier bucket — same-bucket data rows sort
    // AFTER the probe and stay out of its frame, and per-bucket rows are
    // time-monotone across buckets (bucket = floorDiv(ts)), so "last in
    // bucket order" IS "latest in time". O(B log B) per key, zero joins,
    // and the window runs over per-bucket COMPACTED rows, never the
    // corpus.
    val rowType = perBucketLatest.schema("_row").dataType
    val probes = leftBuckets.select(
      keys.map(col) ++ Seq(col("_asof_bucket"), lit(0).as("_tag"),
        lit(null).cast(rowType).as("_row")): _*)
    val dataRows = perBucketLatest.select(
      keys.map(col) ++ Seq(col("_asof_bucket"), lit(1).as("_tag"),
        col("_row")): _*)
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_asof_bucket"), col("_tag"))
      .rowsBetween(Long.MinValue, 0)
    val carries = probes.unionByName(dataRows)
      .withColumn("_carry", last(col("_row"), ignoreNulls = true).over(seqW))
      .filter(col("_tag") === 0 && col("_carry").isNotNull)
      .select(col("_asof_bucket") +:
        right.columns.toSeq.map(c => col(s"_carry.$c").as(c)): _*)

    val rAug = r2.unionByName(carries.select(r2.columns.toSeq.map(col): _*))
    Extended.asofJoinNative(l2, rAug, keys :+ "_asof_bucket", tsCol, strict)
      .drop("_asof_bucket")
  }

  /** Corpus-sized bucket width for [[asofPreSplit]] — the
    * `suggestedLshBits` lesson applied to the time axis: a FIXED width
    * (one day, one hour) is wrong in both directions as the corpus
    * scales. Too coarse and the hottest key's per-bucket population
    * grows linearly with data volume (the within-bucket merge re-becomes
    * the serial hot spot the pre-split exists to break); too fine and
    * millions of near-empty buckets pay carry machinery for nothing.
    *
    * Sizing rule: the HOTTEST key (skew is the whole point — averages
    * would under-split exactly the key that matters) gets
    * `ceil(maxPerKey / targetRowsPerBucket)` buckets across the
    * observed time range, assuming its rows spread roughly uniformly in
    * time (event streams do; a key whose rows all share one timestamp
    * cannot be time-split by ANY width). One cheap stats pass: a
    * map-side-combined count/min/max per key, re-aggregated to three
    * scalars.
    *
    * The result of [[asofPreSplit]] is width-INVARIANT (carry rows make
    * every bucket see its past), so this only moves performance, never
    * output — callers can resize per run as the corpus grows.
    * `tsCol` must be numeric (the [[asofPreSplit]] contract). */
  def suggestedAsofBucketWidth(right: DataFrame, keys: Seq[String],
      tsCol: String, targetRowsPerBucket: Long = 4096L): Long = {
    require(targetRowsPerBucket > 0, "targetRowsPerBucket must be positive")
    val ts = col(tsCol).cast("long")
    val stats = right
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n"), min(ts).as("_lo"), max(ts).as("_hi"))
      .agg(max(col("_n")).as("maxN"), min(col("_lo")).as("lo"),
        max(col("_hi")).as("hi"))
      .head()
    if (stats.isNullAt(0)) return Long.MaxValue // empty right: one bucket
    val maxN = stats.getLong(0)
    val range = stats.getLong(2) - stats.getLong(1) + 1
    if (maxN <= targetRowsPerBucket) math.max(range, 1L) // already fits
    else {
      val nBuckets = (maxN + targetRowsPerBucket - 1) / targetRowsPerBucket
      math.max(1L, range / nBuckets)
    }
  }

  /** Corpus-scaled shuffle-partition count — the last of the sizing
    * rules ([[suggestedAsofBucketWidth]], `Similarity.suggestedLshBits`,
    * `IvfIndex.suggestedNlist`, `Similarity.suggestedNprobe`), applied
    * to the one knob every shuffle shares. Three regimes:
    *
    *  - **bytes ceiling**: once `estRows · avgRowBytes` exceeds
    *    `cores · targetPartitionBytes`, partition count must track data
    *    VOLUME or per-task shuffle blocks outgrow executor memory and
    *    spill — the 100 TB regime. `targetPartitionBytes` is the
    *    per-task in-memory budget (default 1 GiB: a safe fraction of
    *    the 4 GiB/task this harness runs; size it to YOUR executor
    *    memory / cores on a real cluster).
    *  - **cores target**: below the spill point, one partition per core
    *    is the local optimum — more-than-core partitions are pure
    *    per-partition overhead (task launch, one output file per
    *    reducer, merge machinery). Measured at sf10 on local[32]: 32
    *    partitions beat 96 and 256 across the 7-query join tail
    *    (BASELINE.md r11).
    *  - **bytes floor** (r15, from the r14 inverse-scaling evidence):
    *    when the corpus is so small that even `cores` partitions fall
    *    under `minPartitionBytes` each, the extra tasks are again pure
    *    scheduling overhead — the driver's 8-core r14 run beat the
    *    32-core run 1.6–1.8× on q36/q167/q170/q171 purely because 32
    *    partitions over sf0.1-sized shuffles over-split them. The cap
    *    is DATA-derived (ceil(bytes / minPartitionBytes)), not a core-
    *    count tune: at sf10 and above it exceeds any realistic core
    *    count and the rule is unchanged (sf10: 7.7 GB / 8 MiB ≈ 920
    *    ≥ 32 cores; the 2M-vector ladders likewise), so it only acts
    *    in the small-shuffle regime it was measured in.
    *
    * At 100 TB / 128-byte rows / 1 GiB target this returns ~100k
    * partitions regardless of cores — volume dominates; at harness SFs
    * it returns min(cores, data-derived cap). The rule reproduces the
    * hand-tuned 32 at sf10 (60M-row fact × ~128 B ≈ 7.7 GB < 32 GiB
    * core budget) and replaces it with a derivation a cluster
    * deployment can re-run with its own numbers. */
  def suggestedShufflePartitions(estRows: Long, avgRowBytes: Long,
      cores: Int, targetPartitionBytes: Long = 1L << 30,
      minPartitionBytes: Long = 8L << 20): Int = {
    require(estRows >= 0 && avgRowBytes > 0 && cores >= 1 &&
      targetPartitionBytes > 0 && minPartitionBytes > 0 &&
      minPartitionBytes <= targetPartitionBytes,
      s"estRows=$estRows avgRowBytes=$avgRowBytes cores=$cores " +
        s"targetPartitionBytes=$targetPartitionBytes " +
        s"minPartitionBytes=$minPartitionBytes out of range")
    if (estRows == 0L) return cores // unknown/empty input: no data to size by
    val estBytes = // saturate instead of overflowing (10^19-byte corpora)
      if (estRows > Long.MaxValue / avgRowBytes) Long.MaxValue
      else estRows * avgRowBytes
    // overflow-safe ceiling divides (estBytes may be Long.MaxValue)
    def ceilDiv(n: Long, d: Long): Long = n / d + (if (n % d > 0) 1L else 0L)
    val byVolume = ceilDiv(estBytes, targetPartitionBytes)
      .min(Int.MaxValue.toLong).toInt
    val maxUseful = ceilDiv(estBytes, minPartitionBytes)
      .max(1L).min(Int.MaxValue.toLong).toInt
    math.max(math.min(cores, maxUseful), byVolume)
  }
}
