package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import graft.text.TextAnalysis.tokens

/** Extended operators: as-of join, deterministic sampling/splits,
  * sequence packing, grouping sets, percentiles.
  *
  * The as-of join is the canonical "operator Spark lacks" case. Instead
  * of a custom SparkPlan, it composes built-ins the scalable way: union
  * the two sides, one window pass per key — O(n log n) with a single
  * shuffle on the join key, versus the O(n·m) range self-join a naive
  * translation would produce.
  */
object Extended {
  type Q = (SparkSession, String) => DataFrame

  /** As-of join: for each left row, the latest right row with
    * `right.ts < left.ts` (strict) and equal keys. Tag-union + last(...,
    * ignoreNulls) window; at equal timestamps the left row sorts first so
    * strictly-earlier right rows only. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // left rows carry null payload; right rows carry null left-columns
    val lTagged = left
      .withColumn("_is_left", lit(1))
      .withColumn("_tag", lit(0))
    val rTagged = right
      .select((keys :+ tsCol).map(col) ++ payloadCols.map(c => col(c).as(s"_p_$c")): _*)
      .withColumn("_is_left", lit(0))
      .withColumn("_tag", lit(1))
    val lAligned = payloadCols.foldLeft(lTagged) { (d, c) =>
      d.withColumn(s"_p_$c", lit(null).cast(right.schema(c).dataType))
    }
    val rAligned = leftCols.filterNot(c => keys.contains(c) || c == tsCol)
      .foldLeft(rTagged) { (d, c) =>
        d.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val unioned = lAligned.unionByName(rAligned.select(lAligned.columns.toSeq.map(col): _*))
    // right rows (_tag=1) sort BEFORE left rows at strictly earlier ts
    // only; at equal ts the left row (_tag=0) comes first, so last(...,
    // ignoreNulls) over the preceding frame sees strictly-earlier rights.
    // The payload travels as ONE struct (null exactly on left rows): a
    // null FIELD in the latest right row then stays null instead of
    // each column independently falling back to an older right row —
    // which could stitch an output row that corresponds to no input
    // row. The struct is also the final sort key, so right rows tied on
    // (key, ts) resolve to the max payload deterministically instead of
    // by partition layout.
    val rStruct = struct(payloadCols.map(c => col(s"_p_$c")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_tag").asc, rStruct.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("_asof_row",
      last(when(col("_is_left") === 0, rStruct), ignoreNulls = true).over(w))
    filled.filter(col("_is_left") === 1)
      .select(leftCols.map(col) ++
        payloadCols.map(c =>
          col("_asof_row").getField(s"_p_$c").as(s"asof_$c")): _*)
  }

  /** As-of join via the native whole-operator Catalyst path
    * ([[graft.plans.AsOfJoinPlan]] → strategy → sort-merge
    * [[graft.plans.AsOfJoinExec]]): one shuffle per side on the key, one
    * O(|L|+|R|) forward merge per partition, O(1) state. Same semantics
    * as [[asofJoin]] (latest right row with equal keys and
    * `right.ts < left.ts`); output = left columns ++ right payload
    * columns (right key/time dropped). */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, strict: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.GraftBridge
    val spark = left.sparkSession
    graft.plans.AsOfJoinStrategy.ensureRegistered(spark)
    // fresh aliases so a self-join can't share attribute ids across sides
    val rFresh = right.select(right.columns.map(c => col(c).as(c)).toSeq: _*)
    val lp = GraftBridge.analyzed(left)
    val rp = GraftBridge.analyzed(rFresh)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name.equalsIgnoreCase(n)).getOrElse(
      throw new IllegalArgumentException(s"asofJoinNative: no column '$n'"))
    val joined = GraftBridge.ofRows(spark, graft.plans.AsOfJoinPlan(
      lp, rp, keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, tsCol), attr(rp, tsCol), strict))
    val keep = lp.output ++ rp.output.filterNot(a =>
      keys.exists(_.equalsIgnoreCase(a.name)) || a.name.equalsIgnoreCase(tsCol))
    joined.select(keep.map(a => GraftBridge.toColumn(a)).toSeq: _*)
  }

  /** Bloom-pruned exact semi join on a bigint key — the explicit form of
    * the runtime filter AQE sometimes injects, under user control.
    *
    * The keys side aggregates into a bloom filter (a distributed
    * `treeAggregate`; only the ~MB sketch reaches the driver), which
    * then prunes the large side BEFORE its shuffle — at 100 TB the
    * filter drops ~all non-matching rows at the scan for two hash
    * computations each, so the exact semi join that follows shuffles
    * only the survivors (true matches + the `fpp` fraction of false
    * positives). Final semantics are EXACT: the bloom admits false
    * positives, never false negatives, and the confirming join removes
    * the former. */
  def bloomSemiJoin(large: DataFrame, keyCol: String, keys: DataFrame,
      keysKeyCol: String, expectedItems: Long, fpp: Double = 0.01,
      keysDistinct: Boolean = false): DataFrame = {
    // materialize the distinct keys ONCE: the bloom build is an eager
    // aggregation and the confirming join would otherwise re-run the
    // whole keys pipeline (e.g. eval-set shingling) a second time.
    // localCheckpoint, not checkpoint(): reliable-checkpoint files are
    // only deleted under spark.cleaner.referenceTracking.cleanCheckpoints
    // (default off), so a long-lived session would leak a key-set copy
    // per invocation; losing an executor here just retries the query.
    // Pass keysDistinct = true to skip the dedup when the keys side is
    // already distinct (saves a full shuffle + aggregate).
    val k0 = keys.select(col(keysKeyCol).as(keyCol))
    val kMat = graft.plans.LeafPlanRegistry.record(
      if (keysDistinct) k0 else k0.distinct()).localCheckpoint()
    val bf = kMat.stat.bloomFilter(keyCol, expectedItems, fpp)
    large
      .filter(graft.functions.SketchFunctions.bloom_might_contain_long(col(keyCol), bf))
      .join(kMat, Seq(keyCol), "left_semi")
  }

  /** Deterministic hash sample: keep rows whose md5's last hex digit is
    * below `sixteenths`/16 — stable across runs, engines, and partitions
    * (the property `df.sample` cannot give). */
  def hashSample(df: DataFrame, keyCol: String, sixteenths: Int): DataFrame = {
    require(sixteenths >= 0 && sixteenths <= 16)
    df.filter(substring(md5(col(keyCol).cast("string")), 32, 1) <
      lit(hexThreshold(sixteenths)))
  }

  /** Keep-threshold for one md5 hex digit: rate 16 must keep everything,
    * but `toHexString(16)` is the two-char "10", and a single hex digit
    * compared to "10" keeps only '0'/'1' — so 16 maps to 'g', which sorts
    * above every hex digit. */
  private def hexThreshold(sixteenths: Int): String =
    if (sixteenths >= 16) "g" else java.lang.Integer.toHexString(sixteenths)

  /** Stratified deterministic sampling — the data-mixing knob: each
    * group keeps its own fraction (in sixteenths of the md5 hash space,
    * like [[hashSample]]), so a corpus can be re-weighted per source or
    * language without randomness. Groups absent from `rates` keep
    * everything. Content-hash-stable: adding documents never flips an
    * existing document's keep/drop decision. */
  def stratifiedSample(df: DataFrame, keyCol: String, groupCol: String,
      rates: Map[String, Int]): Column = {
    require(rates.values.forall(r => r >= 0 && r <= 16), "rates are sixteenths")
    val h = substring(md5(col(keyCol).cast("string")), 32, 1)
    // 'g' sorts above every hex digit → keep-all default
    val threshold = rates.foldLeft(lit("g")) { case (acc, (g, r)) =>
      when(col(groupCol) === g, lit(hexThreshold(r))).otherwise(acc)
    }
    h < threshold
  }

  /** Deterministic train/val/test split by content hash: 12/2/2
    * sixteenths. Adding documents never moves an existing one between
    * splits. */
  def splitColumn(keyCol: Column): Column = {
    val h = substring(md5(keyCol.cast("string")), 32, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  /** Deterministic training-order assignment: every row gets a shard
    * (`h60(id:seed) % nShards`) and a position within its shard
    * (rank by the same hash, id tie-break) — a reproducible global
    * shuffle of the corpus into training shards. Rerunning on the same
    * ids yields the same order on any cluster/partitioning (the
    * property a pretraining run needs to resume or replay); adding
    * rows perturbs only positions after the insertion points of their
    * shards. No global sort: the only shuffle is the per-shard window,
    * and shards are balanced by the uniform hash. */
  def trainingOrder(df: DataFrame, idCol: String, nShards: Int,
      seed: String = "ord"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val h = graft.text.TextAnalysis.h60(
      concat(col(idCol).cast("string"), lit(":"), lit(seed)))
    val w = Window.partitionBy("shard").orderBy(asc("_h"), asc(idCol))
    df.withColumn("_h", h)
      .withColumn("shard", pmod(col("_h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_h")
  }

  /** Offset-based sequence packing: documents are packed, in id order,
    * into fixed-capacity token sequences; a document's sequence is chosen
    * by its start offset (docs may straddle a boundary — the streaming-
    * friendly packing used for LLM pretraining shards). Packing is per
    * shard (`shardSize` docs), so the window never needs a global sort —
    * each shard packs independently in parallel. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, shardSize: Long = 100000L): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    docs
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      // `div`, not `/`: Spark's / is double division, exact only below
      // 2^53 — the same rule intervalJoinBinned documents
      .withColumn("shard", expr(s"`$idCol` div ${shardSize}L"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("seq_id", expr(s"start_offset div ${maxTokens}L"))
      .withColumn("offset_in_seq", col("start_offset") % maxTokens)
      .select(idCol, "n_tokens", "shard", "start_offset", "seq_id", "offset_in_seq")
  }

  /** Binned interval join — the scale path for a KEYLESS point-in-range
    * join. The naive form (`pt BETWEEN s AND e` with no equi conjunct)
    * is a broadcast-nested-loop: O(|points|·|intervals|) comparisons, a
    * non-starter at 100 TB. Binning restores an equi join: every point
    * maps to exactly ONE `binWidth` bucket of its axis, every interval
    * replicates to each bucket it overlaps (`len/binWidth + 1` copies),
    * and the bucket equi join + residual BETWEEN finds each matching
    * pair EXACTLY once (a point lives in one bin; an interval covers
    * that bin once) — so no dedup pass is needed. Shuffle volume is
    * |points| + Σ interval-spans, both linear; pick `binWidth` near the
    * median interval length to bound the replication factor.
    * `ptCol`/`startCol`/`endCol` must be numeric (cast timestamps to
    * epoch first); bounds are inclusive. */
  def intervalJoinBinned(points: DataFrame, ptCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binWidth: Long, maxSpanBins: Int = 100000): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    require(maxSpanBins > 0, "maxSpanBins must be positive")
    // integral floor-div (Spark's `/` is double division — exact only
    // under 2^53; epoch-nano axes would mis-bin)
    def fdiv(c: Column): Column = org.apache.spark.sql.graft.GraftBridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.GraftBridge.toExpression(c - pmod(c, lit(binWidth))),
        org.apache.spark.sql.graft.GraftBridge.toExpression(lit(binWidth)),
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))
    val pb = points.withColumn("_bin", fdiv(col(ptCol)))
    // one corrupt open-ended interval (end = Long.MaxValue sentinel)
    // would ask sequence() for ~2^63/binWidth elements and kill the job;
    // fail fast with the offending span instead of an executor OOM. The
    // guard lives INSIDE the sequence bound (a detached check column
    // would be pruned as unreferenced and never fire).
    // decimal subtraction: a raw long difference wraps for mixed-sign
    // bin indices at binWidth 1 (start near Long.MinValue, end near
    // Long.MaxValue) and would BYPASS the guard; eBin >= sBin also
    // rejects inverted intervals, which sequence() would otherwise turn
    // into a descending bin list
    val sBin = fdiv(col(startCol)); val eBin = fdiv(col(endCol))
    val spanOk = eBin >= sBin &&
      (eBin.cast(DecimalType(38, 0)) - sBin.cast(DecimalType(38, 0))) <=
        lit(maxSpanBins.toLong)
    val boundedEnd = when(spanOk, fdiv(col(endCol)))
      .otherwise(raise_error(concat(
        lit(s"intervalJoinBinned: inverted interval or span over " +
          s"$maxSpanBins bins of width $binWidth: ["),
        col(startCol), lit(", "), col(endCol), lit("]"))).cast("long"))
    val ib = intervals
      // a null bound can never satisfy the residual BETWEEN, so drop
      // such intervals up front — the exact rows the theta form drops.
      // Without this, a null start/end makes spanOk evaluate NULL,
      // which when() routes into the raise_error branch: the whole job
      // aborts with a misleading span-overflow message for data the
      // semantics say to ignore
      .filter(col(startCol).isNotNull && col(endCol).isNotNull)
      .withColumn("_bin", explode(sequence(fdiv(col(startCol)), boundedEnd)))
    pb.join(ib, Seq("_bin"))
      .where(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("_bin")
  }

  /** Exact per-group bottom-k sample: the k rows with the smallest
    * content hash in every group — deterministic (stable across runs,
    * engines, partition layouts; adding rows can only displace, never
    * reshuffle, survivors), and EXACTLY k per group, which rate-based
    * [[stratifiedSample]] cannot guarantee. One window shuffle; the
    * md5 order key makes the sample uniform per group. `tieCol` must be
    * a unique id: exact-duplicate keys tie on both hash and key, and
    * without a total order row_number picks ranks by partition layout
    * (and the oracle engine picks its own) — nondeterministic exactly
    * when the corpus contains the duplicates a dedup pipeline exists
    * for. */
  def bottomKSample(df: DataFrame, keyCol: String, groupCol: String,
      k: Int, tieCol: String): DataFrame = {
    require(k > 0)
    // nulls LAST explicitly: Spark ASC is NULLS FIRST, ANSI/DuckDB ASC
    // is NULLS LAST, and md5(NULL) = NULL — a null key would silently
    // occupy ranks 1..k here while ranking last in the oracle
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(keyCol).cast("string")).asc_nulls_last,
        col(keyCol).asc_nulls_last, col(tieCol).asc_nulls_last)
    df.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Snapshot diff — the publish-validation pass of an incremental ETL
    * load: full-outer-join two snapshots on the key and classify every
    * key as added / removed / changed / unchanged by comparing a
    * caller-supplied row fingerprint (build it from engine-stable
    * strings — e.g. decimal-cast numerics — NOT raw double formatting).
    * One shuffle per side on the key; at 100 TB both sides usually share
    * the publish layout, so the join co-locates. The summary a load job
    * alerts on is `.groupBy("status").count()` over the result. */
  def snapshotDiff(old: DataFrame, nw: DataFrame, keyCol: String,
      fp: Column): DataFrame = {
    // presence rides its own marker: classifying on fingerprint nullness
    // would misread a present row whose fingerprint EVALUATES to null
    // (null payload column) as an absent one — even inverting removed
    // into added; <=> then treats null-fp-on-both as unchanged
    val oh = old.select(col(keyCol), fp.as("_fp_old"), lit(1).as("_in_old"))
    val nh = nw.select(col(keyCol), fp.as("_fp_new"), lit(1).as("_in_new"))
    oh.join(nh, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(!(col("_fp_old") <=> col("_fp_new")), lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("_fp_old", "_fp_new", "_in_old", "_in_new")
  }

  /** Systematic weighted sampling: ~`k` rows selected with inclusion
    * probability proportional to an INTEGER weight (token counts,
    * bytes), deterministically — a row is selected iff its interval of
    * the cumulative-weight axis crosses one of `k` evenly spaced grid
    * points, so the decision is pure integer arithmetic
    * (`(cum·k) div total`), reproducible across engines and runs, and
    * exactly length-weighted (the "sample documents ∝ length" pass a
    * token-budget pipeline wants when it must subsample, not truncate).
    *
    * The global cumulative sum is built the scale-correct way: one
    * window per `shardSize`-id shard plus a broadcast table of per-shard
    * prefix offsets (the only global window runs over #shards rows, not
    * the corpus — a plain `Window.orderBy` would collapse the whole
    * table to one partition). Rows heavier than the grid step are always
    * selected once (never duplicated). */
  def systematicWeightedSample(docs: DataFrame, idCol: String,
      weight: Column, k: Int, shardSize: Long = 100000L): DataFrame = {
    require(k > 0 && shardSize > 0)
    val t = docs.withColumn("_w", weight.cast("long"))
      .withColumn("_shard", expr(s"$idCol div $shardSize"))
    val shardTotals = t.groupBy("_shard").agg(sum("_w").as("_shard_w"))
    val offsets = shardTotals
      .withColumn("_offset", coalesce(sum("_shard_w").over(
        Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("_shard", "_offset")
    val total = shardTotals.agg(sum("_shard_w").as("_total"))
    t.join(broadcast(offsets), Seq("_shard"))
      .withColumn("_cum", col("_offset") + sum("_w").over(
        Window.partitionBy("_shard").orderBy(idCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      // decimal(38,0) grid math: _cum·k overflows Long once total·k
      // passes 2^63 (byte weights at 100 TB with k ~ 1e5) — decimal
      // integer math is the same result without the cliff. The division
      // MUST be integral (`div` → Decimal.quot → divideToIntegralValue,
      // exact): floor(a/b) on decimals rescales the quotient to scale 6
      // with HALF_UP first, so a true fractional part within ~5e-7 of 1
      // would round across the next integer and flip the grid decision
      // vs the oracle's exact HUGEINT `//` — unreachable at test totals,
      // reachable at 100 TB totals.
      .filter(
        expr(s"(cast(_cum as decimal(38,0)) * $k) div _total") >
          expr(s"(cast(_cum - _w as decimal(38,0)) * $k) div _total"))
      .drop("_shard", "_offset", "_total")
  }

  /** Z-order clustering layout: range-partition + locally sort by the
    * Morton-interleaved key of two dimensions, so each output file's
    * (min, max) footprint is a tight rectangle in BOTH dimensions and a
    * scan filtering on either one prunes most files. This is the
    * write-time half of multi-dimensional data skipping — the read-time
    * half is free (parquet row-group stats + Spark's file pruning).
    * `repartitionByRange` samples the key distribution, so skewed
    * dimensions still yield balanced files. */
  def zorderLayout(df: DataFrame, x: String, y: String,
      numFiles: Int, bitsPerDim: Int = 30): DataFrame = {
    val zkey = graft.functions.LayoutFunctions.zorder_key(
      col(x).cast("long"), col(y).cast("long"), bitsPerDim)
    df.withColumn("_zkey", zkey)
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      // the key is derivable from the data — persisting it would write a
      // synthetic 8-byte column into every file of a layout rewrite (and
      // clobber any caller column of the same name); the projection after
      // the local sort is narrow, so intra-partition order is preserved
      .drop("_zkey")
  }

  /** Equal-width buckets per value column in [[groupedQuantiles]]'s
    * first pass. One more bucket holds NaN. */
  private val QuantileBuckets = 4096

  /** Exact interpolated quantiles per group, by two-pass bucket
    * selection. Spark's `percentile` buffers a value→count map per group,
    * and ranking every row needs a sort of the whole input; this form
    * shuffles only a histogram and the rows of the few buckets that hold
    * a target rank.
    *
    *  - Bounds: each value column, cast to double, gets
    *    [[QuantileBuckets]] equal-width buckets between its least and
    *    greatest value. They come from parquet footers
    *    ([[graft.sources.ParquetMeta.ranges]]) with no job, else from one
    *    global min/max aggregate over the finite values. Every value is
    *    clamped into the buckets and NaN gets its own bucket above +Inf,
    *    where Spark orders it, so the bucket is monotone in the value
    *    whatever the bounds: a wrong or stale bound costs speed, never
    *    the answer.
    *  - Pass 1: count, min and max per (group, column, bucket). A window
    *    over those rows, at most groups × columns × (buckets + 1), gives
    *    each bucket its rank range and each (group, column) its non-null
    *    count n. A quantile q needs ranks ⌊pos⌋+1 and ⌊pos⌋+2 with
    *    pos = q·(n−1); the buckets holding them are picked. A picked
    *    bucket whose min equals its max already gives its value.
    *  - Pass 2: the other picked buckets travel as one broadcast join
    *    (unique per key, so it keeps a row at most once, as a semi-join
    *    does, and brings the bucket's first rank along). Only their rows
    *    are compressed to (value, count) and ranked within the bucket.
    *  - The result interpolates lo + (hi − lo)·(pos − ⌊pos⌋), the formula
    *    of `quantile_cont`, and gives lo itself when pos is a rank (every
    *    single-row group included, where rank ⌊pos⌋+2 does not exist).
    *
    * Null values are excluded per column, as `quantile_cont` does. Every
    * group of the input yields one row, a NULL group key included, with
    * one column per (name, q) pair across all specs; a group whose values
    * are all null gets NULL quantiles. */
  def groupedQuantiles(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(String, Double)])]): DataFrame = {
    require(specs.nonEmpty && specs.flatMap(_._2).nonEmpty, "no quantiles requested")
    val names = specs.flatMap(_._2.map(_._1))
    require(names.distinct.size == names.size,
      s"duplicate quantile output names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    specs.flatMap(_._2.map(_._2)).foreach(q =>
      require(q >= 0.0 && q <= 1.0, s"quantile q must be in [0, 1], got $q"))
    val hinted = graft.sources.ParquetMeta.ranges(df, specs.map(_._1))
    val missing = specs.indices.filter(hinted(_).isEmpty)
    val measured = if (missing.isEmpty) Map.empty[Int, (Double, Double)] else {
      def finite(i: Int) = {
        val v = col(quote(specs(i)._1)).cast("double")
        when(v >= -Double.MaxValue && v <= Double.MaxValue, v)
      }
      val row = df.select(missing.flatMap(i => Seq(min(finite(i)), max(finite(i)))): _*).head()
      missing.zipWithIndex.map { case (i, k) =>
        i -> (if (row.isNullAt(2 * k)) (0.0, 0.0) else (row.getDouble(2 * k), row.getDouble(2 * k + 1)))
      }.toMap
    }
    val bounds = specs.indices.map(i => hinted(i).getOrElse(measured(i)))
    groupedQuantiles(df, groupCol, specs, bounds)
  }

  /** [[groupedQuantiles]] with the bucket bounds given, one (least,
    * greatest) pair per spec. */
  private[ops] def groupedQuantiles(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(String, Double)])], bounds: Seq[(Double, Double)]): DataFrame = {
    require(bounds.size == specs.size, s"${bounds.size} bounds for ${specs.size} specs")
    val nb = QuantileBuckets
    def bucket(v: Column, lo: Double, hi: Double): Column = {
      val (base, width) =
        if (lo.isFinite && hi.isFinite && hi > lo) (lo, hi / nb - lo / nb)
        else (if (lo.isFinite) lo else 0.0, 1.0)
      // greatest and least skip a null, so a null value is kept null first
      when(v.isNaN, lit(nb)).when(v.isNotNull,
        floor(least(greatest((v - base) / width, lit(0.0)), lit(nb - 1.0))).cast("int"))
    }
    // (group, column index, value, bucket); a null value keeps a null
    // bucket, so an all-null group still reaches the histogram
    val rows = df.select(col(quote(groupCol)).as("_g"), explode(array(
        specs.zip(bounds).zipWithIndex.map { case (((c, _), (lo, hi)), i) =>
          val v = col(quote(c)).cast("double")
          struct(lit(i).as("vc"), v.as("v"), bucket(v, lo, hi).as("b"))
        }: _*)).as("_e"))
      .select(col("_g"), col("_e.vc").as("_vc"), col("_e.v").as("_v"), col("_e.b").as("_b"))
    val perColumn = Window.partitionBy(col("_g"), col("_vc"))
    val hist = rows.groupBy(col("_g"), col("_vc"), col("_b"))
      .agg(count(col("_v")).as("_cnt"), min(col("_v")).as("_min"), max(col("_v")).as("_max"))
      .withColumn("_cum", sum(col("_cnt")).over(perColumn.orderBy(col("_b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_first", col("_cum") - col("_cnt") + 1)
      .withColumn("_n", sum(col("_cnt")).over(perColumn))
    val flat = specs.zipWithIndex.flatMap { case ((_, qs), i) =>
      qs.map { case (name, q) => (i, name, q) } }
    def pos(q: Double): Column = lit(q) * (col("_n") - 1).cast("double")
    def holds(rank: Column): Column = col("_first") <= rank && rank <= col("_cum")
    // the buckets holding a target rank, and each column's null bucket
    // (its count is 0, so it holds no rank, but it keeps the group)
    val picked = hist.filter(col("_b").isNull || flat.map { case (i, _, q) =>
      col("_vc") === i && (holds(floor(pos(q)) + 1) || holds(floor(pos(q)) + 2))
    }.reduce(_ || _))
    val known = picked.filter(col("_b").isNull || col("_min") === col("_max"))
      .select(col("_g"), col("_vc"), col("_first"), col("_cum"), col("_n"), col("_min").as("_v"))
    val open = picked.filter(!(col("_min") === col("_max")))
      .select(col("_g").as("_pg"), col("_vc").as("_pvc"), col("_b").as("_pb"),
        col("_first").as("_base"), col("_n"))
    // the join keys are the two ints, which the hash join packs into one
    // long; the group, of any type, is compared only on the rows of a
    // picked (column, bucket), null-safe but in a form the planner does
    // not turn into a key (as a string key it cost the sf1 probe 2.3 CPU-s)
    val ranked = rows.join(broadcast(open), col("_vc") === col("_pvc") &&
        col("_b") === col("_pb") &&
        coalesce(col("_g") === col("_pg"), col("_g").isNull && col("_pg").isNull))
      .groupBy(col("_g"), col("_vc"), col("_b"), col("_base"), col("_n"), col("_v"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_cum", col("_base") - 1 + sum(col("_cnt")).over(
        Window.partitionBy(col("_g"), col("_vc"), col("_b")).orderBy(col("_v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("_g"), col("_vc"), (col("_cum") - col("_cnt") + 1).as("_first"),
        col("_cum"), col("_n"), col("_v"))
    val aggs = flat.map { case (i, name, q) =>
      val mine = col("_vc") === i
      val lo = floor(pos(q))
      val vLo = max(when(mine && holds(lo + 1), col("_v")))
      val vHi = max(when(mine && holds(lo + 2), col("_v")))
      val frac = max(when(mine, pos(q) - lo))
      when(frac === 0.0, vLo).otherwise(vLo + (coalesce(vHi, vLo) - vLo) * frac).as(name)
    }
    known.unionByName(ranked).groupBy(col("_g").as(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  private def quote(name: String): String = s"`${name.replace("`", "``")}`"

  /** Single-column convenience over [[groupedQuantiles]]. */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(String, Double)]): DataFrame =
    groupedQuantiles(df, groupCol, Seq(valueCol -> qs))

  val queries: Map[String, Q] = Map(
    // z-order clustering effectiveness: bucket lineitem by the top bits
    // of the interleaved (l_partkey, l_suppkey) key; each bucket's
    // min/max footprint in both dimensions is what file-level stats
    // would record after a zorderLayout write — the oracle rebuilds the
    // identical key from shift-or terms
    "q109_zorder_stats" -> { (s, d) =>
      val li = Tables(s, d, "lineitem")
      li.select(
          graft.functions.LayoutFunctions.zorder_key(
            col("l_partkey").cast("long"), col("l_suppkey").cast("long"), 30)
            .as("zkey"),
          col("l_partkey"), col("l_suppkey"))
        .withColumn("zbucket", shiftright(col("zkey"), 14))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
        .orderBy("zbucket")
    },

    // keyless point-in-interval join via binning (equi join + residual,
    // each pair found exactly once): events inside 2h windows opened by
    // low-id users' purchases, aggregated per window. Oracle is the
    // naive BETWEEN theta join — a green hash proves binning is lossless
    "q113_interval_bin_join" -> { (s, d) =>
      val base = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("t"), col("value"))
      val iv = base
        .filter(col("user_id") < 5 && col("event_type") === "purchase")
        .select(col("event_id").as("iv_id"), col("t").as("s"),
          (col("t") + lit(7200000000L)).as("e"))
      intervalJoinBinned(base.select("event_id", "t", "value"), "t",
          iv, "s", "e", binWidth = 3600000000L)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_points"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
        .orderBy("iv_id")
    },

    // snapshot diff: simulate an incremental reload of events (some rows
    // absent from the old load, some deleted in the new, some values
    // updated) and classify every key; fingerprints use decimal-cast
    // values so both engines hash identical strings
    "q125_snapshot_diff" -> { (s, d) =>
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val old = ev.filter(col("event_id") % 7 =!= 0)
      val nw = ev.filter(col("event_id") % 11 =!= 0)
        .withColumn("value",
          when(col("event_id") % 5 === 0, col("value") + 1.0)
            .otherwise(col("value")))
      val fp = md5(concat_ws("|", col("event_type"),
        col("value").cast(DecimalType(18, 6)).cast("string")))
      snapshotDiff(old, nw, "event_id", fp)
        .groupBy("status").agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_key"), max(col("event_id")).as("max_key"))
        .orderBy("status")
    },

    // length-weighted systematic sample: ~50 docs, probability ∝ token
    // count, integer-exact grid decision (shard size 100 exercises the
    // multi-shard offset path even at sf0.01's 500 docs)
    "q122_weighted_sample" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      systematicWeightedSample(docs, "doc_id",
          size(tokens(col("text"))).cast("long"), k = 50, shardSize = 100L)
        .select(col("doc_id"), col("_w").as("n_tokens"), col("_cum").as("cum_tokens"))
        .orderBy("doc_id")
    },

    // exact per-group bottom-k: 5 deterministic docs per language
    "q114_bottomk_sample" -> { (s, d) =>
      bottomKSample(Tables(s, d, "documents"), "text", "lang", k = 5,
          tieCol = "doc_id")
        .select("lang", "rk", "doc_id")
        .orderBy("lang", "rk")
    },

    // as-of join: previous event per (user, ts) — strict inequality,
    // via the native whole-operator path (AsOfJoinPlan/Exec); oracle is
    // DuckDB's built-in ASOF LEFT JOIN
    "q80_asof_join" -> { (s, d) =>
      val e = Tables(s, d, "events")
        .select("event_id", "user_id", "ts", "value")
      asofJoinNative(e,
        e.select(col("user_id"), col("ts"),
          col("event_id").as("prev_event_id"), col("value").as("prev_value")),
        keys = Seq("user_id"), tsCol = "ts", strict = true)
        .select("event_id", "user_id", "ts", "value", "prev_event_id", "prev_value")
        .orderBy("user_id", "ts", "event_id")
    },

    // as-of join through the hot-key pre-split (Skew.asofPreSplit):
    // identical semantics to q80, but the merge runs on composite
    // (user, time-bucket) keys with carry rows — the skew remedy proven
    // against the same DuckDB ASOF oracle. Times ride as epoch micros
    // (the pre-split needs a numeric axis; micros is the storage
    // resolution of the rebuilt ts, so `<` is unchanged). The bucket
    // width is CORPUS-SIZED (suggestedAsofBucketWidth, r11): the old
    // fixed one-day width let per-bucket population grow linearly with
    // data volume — at sf10 the within-bucket merge was back to being
    // the serial tail (7.6×/decade measured). Width invariance of the
    // result means the oracle and hashes are unchanged at every SF
    // while the geometry adapts.
    "q96_asof_presplit" -> { (s, d) =>
      val e = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("t"), col("value"))
      val r = e.select(col("user_id"), col("t"),
        col("event_id").as("prev_event_id"), col("value").as("prev_value"))
      val width = Skew.suggestedAsofBucketWidth(r, Seq("user_id"), "t",
        targetRowsPerBucket = 32L)
      Skew.asofPreSplit(e, r, keys = Seq("user_id"), tsCol = "t",
        bucketWidth = width, strict = true)
        .select("event_id", "user_id", "t", "value", "prev_event_id", "prev_value")
        .orderBy("user_id", "t", "event_id")
    },

    // deterministic hash sampling (stable across engines)
    "q81_hash_sample" -> { (s, d) =>
      hashSample(Tables(s, d, "documents"), "text", 4)
        .select("doc_id").orderBy("doc_id")
    },

    // stratified re-weighting: downsample the dominant language (en 4/16)
    // and zh (8/16), keep the rest — the per-group mixing knob, plus the
    // resulting mixture profile
    "q100_stratified_sample" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
      docs.filter(stratifiedSample(docs, "text", "lang",
          Map("en" -> 4, "zh" -> 8)))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    // train/val/test split profile
    "q82_train_val_test" -> { (s, d) =>
      Tables(s, d, "documents")
        .withColumn("split", splitColumn(col("text")))
        .groupBy("split").agg(count(lit(1)).as("n_docs"))
        .orderBy("split")
    },

    // deterministic training order: reproducible shard + position for
    // every document — the data-ordering step of a pretraining run
    "q140_training_order" -> { (s, d) =>
      trainingOrder(Tables(s, d, "documents").select("doc_id", "n_chars"),
        "doc_id", nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    },

    // sequence packing for training shards
    "q83_pack_sequences" -> { (s, d) =>
      packSequences(Tables(s, d, "documents"), "doc_id", "text", maxTokens = 4096)
        .orderBy("doc_id")
    },

    // GROUPING SETS via the SQL surface
    "q84_grouping_sets" -> { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""
        .stripMargin)
    },

    // exact percentiles (interpolated), grouped — two-pass bucket
    // selection with bounds from the lineitem footers: a histogram, then
    // only the rows of the picked buckets (see [[groupedQuantiles]]).
    // Outputs are rounded at scale 6 on BOTH sides: the true
    // values carry ≤4 decimals (2-decimal measures × {0,.1,.25,.5,
    // .75,.9} fracs), so rounding never lands on a tie and erases the
    // last-ulp drift between our lo+(hi−lo)·frac and DuckDB's
    // quantile_cont interpolation order.
    "q85_percentiles" -> { (s, d) =>
      val li = Tables(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("double").as("qty"),
          col("l_extendedprice").cast("double").as("price"))
      groupedQuantiles(li, "flag", Seq(
          "qty" -> Seq("p50_qty" -> 0.5, "p90_qty" -> 0.9),
          "price" -> Seq("p25_price" -> 0.25)))
        .select(col("flag").as("l_returnflag"),
          round(col("p50_qty"), 6).as("p50_qty"),
          round(col("p90_qty"), 6).as("p90_qty"),
          round(col("p25_price"), 6).as("p25_price"))
        .orderBy("l_returnflag")
    },

    // approximate percentiles via a DETERMINISTIC estimator (the q121
    // recipe): a 1-in-8 hash sample in the shared h60 space — the row
    // key hashes identically in both engines, so the oracle draws the
    // SAME sample and replays the whole estimate, unlike t-digest /
    // approx_percentile whose sketch internals are engine-specific
    // (that nondeterministic form kept this row rows-only for six
    // rounds). Exact p50 + absolute error ride along, so the row also
    // quantifies estimator quality. Scale shape: the sample filter is a
    // map-side scan predicate (no shuffle added); the grouped exact
    // percentile then runs over 1/8 of the corpus.
    "q86_approx_percentiles" -> { (s, d) =>
      val li = Tables(s, d, "lineitem")
      val sampled = li.filter(pmod(graft.text.TextAnalysis.h60(
        concat_ws("|", col("l_orderkey"), col("l_linenumber"))), lit(8L)) === 0L)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("approx_p50"),
          expr("percentile(l_quantity, 0.9)").as("approx_p90"))
      val exact = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("exact_p50"))
      sampled.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("approx_p50"), col("approx_p90"),
          col("exact_p50"),
          abs(col("approx_p50") - col("exact_p50")).as("p50_abs_err"))
        .orderBy("l_returnflag")
    },

    // JSON extraction from string columns (the semi-structured surface)
    "q87_json_extract" -> { (s, d) =>
      Tables(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    },

    // JSON extract + aggregate (bucketed profile of a JSON field)
    "q88_json_agg" -> { (s, d) =>
      Tables(s, d, "events")
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(floor(col("k_val") / 10).cast("int").as("k_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k_bucket")
    },

    // gap-based sessionization, batch form (the oracle-checkable twin of
    // streaming EventsStream.sessionize): lag → gap flag → cumulative
    // session index → per-session aggregate
    "q92_sessionize_batch" -> { (s, d) =>
      val wOrder = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, d, "events")
        .withColumn("prev_ts", lag("ts", 1).over(wOrder))
        .withColumn("new_session",
          // the gap compares in exact integer MICROSECONDS on both
          // sides (unix_micros here, epoch_us in the oracle): a
          // whole-second cast would truncate fractions and disagree
          // with DuckDB's fractional epoch() on any gap inside
          // (1800, 1801) seconds
          when(col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum("new_session").over(wOrder.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_idx")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
        .orderBy("user_id", "session_idx")
    },

    // generator / table-function surface: explode tokens → word counts
    // (the UDTF-parity path: flatMap/explode instead of a table function)
    "q90_explode_wordcount" -> { (s, d) =>
      Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("tok"))
        .limit(100)
    },

    // array aggregation: deterministic via sort_array(collect_list)
    "q91_collect_sorted" -> { (s, d) =>
      Tables(s, d, "orders").filter(col("o_orderkey") < 100)
        .groupBy("o_orderstatus")
        .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("orderkeys"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // multiset set-ops: INTERSECT ALL / EXCEPT ALL
    "q93_setops_all" -> { (s, d) =>
      val o = Tables(s, d, "orders")
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      val fin = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      // GLOBAL agg, not groupBy(lit): grouping on a literal over an
      // empty input yields zero groups, so an empty INTERSECT ALL would
      // drop its row while the oracle's scalar count(*) emits 0
      open.intersectAll(fin).agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("n"))
        .unionAll(open.exceptAll(fin).agg(count(lit(1)).as("n"))
          .select(lit("except_all").as("op"), col("n")))
        .orderBy("op")
    },

    // date arithmetic: interval shift + day diff
    "q94_date_arithmetic" -> { (s, d) =>
      Tables(s, d, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("due_date"),
          datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("days_since_epoch_start"))
        .orderBy("o_orderkey")
    },

    // fuzzy string matching: Levenshtein distance on near-identical names
    "q95_levenshtein" -> { (s, d) =>
      val p = Tables(s, d, "part").filter(col("p_partkey") < 200)
      val a = p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("int"))
        .filter(col("dist") <= 3)
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    },

    // typed Aggregator UDAF (exact fixed-point buffer → oracle-checkable)
    "q89_custom_aggregator" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events").select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.StatsAggregator.fixedPointStats.toColumn.name("stats"))
        .toDF("user_id", "stats")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("stats.min").as("min_value"),
          col("stats.max").as("max_value"), col("stats.mean").as("mean_value"),
          col("stats.n").as("n_events"))
        .orderBy("user_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "q113_interval_bin_join" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
        |  FROM events),
        |iv AS (
        |  SELECT event_id AS iv_id, t AS s, t + 7200000000 AS e
        |  FROM base WHERE user_id < 5 AND event_type = 'purchase')
        |SELECT iv.iv_id, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM iv JOIN base p ON p.t >= iv.s AND p.t <= iv.e
        |GROUP BY iv.iv_id ORDER BY iv.iv_id""".stripMargin,
    "q125_snapshot_diff" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, value FROM events),
        |old AS (SELECT * FROM ev WHERE event_id % 7 <> 0),
        |nw AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS value
        |  FROM ev WHERE event_id % 11 <> 0),
        |oh AS (SELECT event_id, md5(concat_ws('|', event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR))) AS fp FROM old),
        |nh AS (SELECT event_id, md5(concat_ws('|', event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR))) AS fp FROM nw),
        |j AS (
        |  SELECT COALESCE(oh.event_id, nh.event_id) AS event_id,
        |    CASE WHEN oh.event_id IS NULL THEN 'added'
        |         WHEN nh.event_id IS NULL THEN 'removed'
        |         WHEN oh.fp IS DISTINCT FROM nh.fp THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM oh FULL OUTER JOIN nh ON oh.event_id = nh.event_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  min(event_id) AS min_key, max(event_id) AS max_key
        |FROM j GROUP BY status ORDER BY status""".stripMargin,
    "q122_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w,
        |    CAST(sum(w) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM t)
        |SELECT doc_id, w AS n_tokens, cum AS cum_tokens
        |FROM c, tot
        |WHERE (cum::HUGEINT * 50) // total > ((cum - w)::HUGEINT * 50) // total
        |ORDER BY doc_id""".stripMargin,
    "q114_bottomk_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(text) ASC NULLS LAST, text ASC NULLS LAST,
        |        doc_id ASC NULLS LAST) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT lang, rk, doc_id FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,
    "q109_zorder_stats" -> {
      val z = graft.functions.ZOrderKey2.oracleSqlExpr(
        "CAST(l_partkey AS BIGINT)", "CAST(l_suppkey AS BIGINT)", 30)
      s"""WITH z AS (
         |  SELECT ($z) >> 14 AS zbucket, l_partkey, l_suppkey
         |  FROM lineitem)
         |SELECT zbucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
    },
    "q80_asof_join" ->
      """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value,
        |  e2.event_id AS prev_event_id, e2.value AS prev_value
        |FROM events e
        |ASOF LEFT JOIN events e2 ON e.user_id = e2.user_id AND e2.ts < e.ts
        |ORDER BY e.user_id, ts, e.event_id""".stripMargin,
    "q96_asof_presplit" ->
      """SELECT e.event_id, e.user_id,
        |  epoch_us(CAST(e.ts AS TIMESTAMP)) AS t, e.value,
        |  e2.event_id AS prev_event_id, e2.value AS prev_value
        |FROM events e
        |ASOF LEFT JOIN events e2 ON e.user_id = e2.user_id AND e2.ts < e.ts
        |ORDER BY e.user_id, t, e.event_id""".stripMargin,
    "q81_hash_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substr(md5(text), 32, 1) < '4' ORDER BY doc_id""".stripMargin,
    // q140: same h60, same pmod shard, same per-shard rank
    "q140_training_order" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ord'), 1, 15) AS BIGINT) AS hh
        |  FROM documents),
        |s AS (SELECT doc_id, hh, CAST(hh % 8 AS INTEGER) AS shard FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,
    "q100_stratified_sample" ->
      """SELECT lang, count(*) AS n_docs FROM documents
        |WHERE substr(md5(text), 32, 1) <
        |  (CASE WHEN lang = 'en' THEN '4' WHEN lang = 'zh' THEN '8'
        |        ELSE 'g' END)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q82_train_val_test" ->
      """SELECT CASE WHEN substr(md5(text), 32, 1) < 'c' THEN 'train'
        |            WHEN substr(md5(text), 32, 1) < 'e' THEN 'val'
        |            ELSE 'test' END AS split, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
    "q83_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id // 100000 AS BIGINT) AS shard
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens, shard,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, shard, start_offset,
        |  CAST(start_offset // 4096 AS BIGINT) AS seq_id,
        |  CAST(start_offset % 4096 AS BIGINT) AS offset_in_seq
        |FROM o ORDER BY doc_id""".stripMargin,
    "q84_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q85_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q86_approx_percentiles" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_quantity, 0.5) AS approx_p50,
        |    quantile_cont(l_quantity, 0.9) AS approx_p90
        |  FROM lineitem
        |  WHERE CAST('0x' || substr(md5(
        |      CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
        |    ), 1, 15) AS BIGINT) % 8 = 0
        |  GROUP BY l_returnflag),
        |e AS (
        |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS exact_p50
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT s.l_returnflag, s.approx_p50, s.approx_p90, e.exact_p50,
        |  abs(s.approx_p50 - e.exact_p50) AS p50_abs_err
        |FROM s JOIN e USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q87_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q88_json_agg" ->
      """SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER)
        |    AS k_bucket, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin,
    "q92_sessionize_batch" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |indexed AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM indexed GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q90_explode_wordcount" ->
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents) t
        |GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 100""".stripMargin,
    "q91_collect_sorted" ->
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
        |  count(*) AS n
        |FROM orders WHERE o_orderkey < 100
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q93_setops_all" ->
      """SELECT * FROM (
        |  SELECT 'except_all' AS op, count(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |    EXCEPT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t1
        |  UNION ALL
        |  SELECT 'intersect_all', count(*) FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |    INTERSECT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t2) u
        |ORDER BY op""".stripMargin,
    "q94_date_arithmetic" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |    AS days_since_epoch_start
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "q95_levenshtein" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey < 200 AND b.p_partkey < 200
        |  AND levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q89_custom_aggregator" ->
      """SELECT user_id, min(value) AS min_value, max(value) AS max_value,
        |  (CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0) / count(*)
        |    AS mean_value,
        |  count(*) AS n_events
        |FROM events WHERE user_id < 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
