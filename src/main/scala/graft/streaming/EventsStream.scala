package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.sources.ParquetMeta

/** Structured-Streaming surface (SURVEY.md §2.J).
  *
  * The reference's only streaming behavior is a poll loop with a
  * monotonic watermark and state committed after success
  * (`CopyTool.java:122-160,332-477`). Batch-first [[graft.pipeline.CopyJob]]
  * reproduces those semantics exactly; this module is the
  * streaming-native variant plus the event-time operators a Spark engine
  * adds on top: watermarked windowed aggregation and custom session
  * state via flatMapGroupsWithState.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  // not private: Catalyst's generated encoder code needs public accessors
  final case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** Streaming-native incremental copy: file stream over the source dir,
    * AvailableNow trigger (process everything new, then stop — the
    * streaming twin of the reference's poll-then-copy run), checkpointed
    * state replacing the `_lastrun.txt` file. */
  def incrementalCopy(spark: SparkSession, sourceDir: String, targetDir: String,
      checkpointDir: String): Unit = {
    val schema = ParquetMeta.read(spark, sourceDir).schema
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .format("parquet")
      .option("path", targetDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window aggregation (event-time, late data
    * dropped past the watermark). NTZ event times are coerced to
    * TIMESTAMP (watermarks require it; value-preserving under the pinned
    * UTC session). */
  def windowedAgg(events: DataFrame, windowLen: String = "5 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal per-row sums — the same order-independence discipline
      // every batch aggregate uses (raw double sums vary in the last
      // ulp with partition order, flaking checkpoint-recovery replays)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessionization with custom state
    * (flatMapGroupsWithState): a session closes after `gapMinutes` of
    * user inactivity. Sessions close either when a later in-gap-violating
    * event for the same user arrives, or when the event-time watermark
    * passes session_end + gap (EventTimeTimeout — no wall-clock spinning,
    * deterministic under AvailableNow replays). Emits closed sessions
    * (Append mode). */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def close(userId: Long, s: SessionState): Session =
      Session(userId, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.end), s.n, s.total)

    def fn(userId: Long, batch: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val closed = state.getOption.map(close(userId, _))
        state.remove()
        closed.iterator
      } else {
        // total order (ts, event_id): equal-ts events otherwise
        // accumulate `total` in shuffle-fetch order — the same
        // determinism discipline the other processors apply
        val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.end <= gapMs =>
              // min/max extents: a LATE in-watermark event (t <= end)
              // extends membership but must never rewind session_end —
              // the batch twin aggregates min(ts)/max(ts)
              cur = Some(s.copy(start = math.min(s.start, t),
                end = math.max(s.end, t), n = s.n + 1,
                total = s.total + e.value))
            case Some(s) =>
              closed ::= close(userId, s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // fire once the watermark passes the inactivity gap; the +1 ms
          // guard keeps the timestamp ahead of an already-advanced watermark
          state.setTimeoutTimestamp(
            math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
        }
        closed.reverseIterator
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class UserStats(user_id: Long, n_events: Long,
      total_value: Double, last_event_id: Long)

  /** Per-user running totals via `transformWithState` — Spark 4's
    * arbitrary-state API (the successor to flatMapGroupsWithState:
    * named state variables, composable Value/List/Map state, timers,
    * RocksDB-backed). Each micro-batch folds its rows into a
    * `ValueState[UserStats]` and emits the updated running row, so the
    * sink always holds the latest per-user totals (Update mode).
    *
    * Requires the RocksDB state-store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...RocksDBStateStoreProvider`) — transformWithState does not run
    * on the default HDFS-backed store. Rows are folded in event_id
    * order inside each batch, so the running values are deterministic
    * for a deterministic batch sequence. */
  class RunningUserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserStats] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[UserStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserStats]("stats",
        org.apache.spark.sql.Encoders.product[UserStats], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserStats] = {
      var s = if (state.exists()) state.get()
        else UserStats(key, 0L, 0.0, -1L)
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        s = UserStats(key, s.n_events + 1, s.total_value + e.value,
          math.max(s.last_event_id, e.event_id))
      }
      state.update(s)
      Iterator.single(s)
    }
  }

  /** Running per-user stats stream (see [[RunningUserStatsProcessor]]). */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class TokenOcc(shard: Int, h: Long)
  final case class TokenEst(shard: Int, h: Long, est: Long)
  // not private: Catalyst's generated encoder code needs public accessors
  final case class CmsState(counters: Array[Long])

  /** Streaming heavy-hitter estimates at ingest — the streaming twin of
    * the q108 Count-Min pass ([[graft.functions.CountMinAgg]], same
    * affine hash family): each shard key holds one additive
    * `depth × width` counter matrix in `ValueState`, updated per batch
    * and probed for the batch's distinct tokens, so every emission is
    * the token's RUNNING frequency estimate over the whole stream.
    *
    * Sharding contract: `shard` must be a pure function of `h`
    * (e.g. `(h % nShards).toInt`) — then a token's every occurrence
    * lands in the same shard and its estimate needs no cross-shard
    * merge, while state stays `nShards × depth·width·8` bytes TOTAL
    * regardless of stream length or vocabulary (the property per-token
    * counting state cannot give). Updates land before probes and CMS is
    * order-independent (pure addition), so emissions are deterministic
    * for a deterministic batch sequence without any in-batch sort. */
  class StreamingCmsProcessor(depth: Int, width: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, TokenOcc, TokenEst] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[CmsState] = _
    @transient private lazy val params = graft.functions.MinHashAgg.affineParams(depth)

    private def bucket(i: Int, h: Long): Int = {
      val (a, b) = params(i)
      (graft.functions.MinHashAgg.affinePerm(a, b, h) % width).toInt
    }

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CmsState]("cms",
        org.apache.spark.sql.Encoders.product[CmsState], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[TokenOcc],
        timerValues: TimerValues): Iterator[TokenEst] = {
      val buf = if (state.exists()) state.get().counters
        else new Array[Long](depth * width)
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      rows.foreach { r =>
        var i = 0
        while (i < depth) { buf(i * width + bucket(i, r.h)) += 1L; i += 1 }
        seen += r.h
      }
      state.update(CmsState(buf))
      seen.iterator.map { h =>
        var est = Long.MaxValue
        var i = 0
        while (i < depth) {
          val v = buf(i * width + bucket(i, h))
          if (v < est) est = v
          i += 1
        }
        TokenEst(key, h, est)
      }
    }
  }

  /** Running token-frequency estimates (see [[StreamingCmsProcessor]]). */
  def streamingHeavyHitters(tokens: Dataset[TokenOcc],
      depth: Int = 4, width: Int = 1024): Dataset[TokenEst] = {
    import tokens.sparkSession.implicits._
    tokens.groupByKey(_.shard)
      .transformWithState(new StreamingCmsProcessor(depth, width),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** One hashed-cell token occurrence of a streamed document
    * (`cell = h60(token) mod B` — the DSIR cell trick, q130). */
  final case class SrcTok(src: String, cell: Int)
  final case class DriftState(counts: Array[Long], total: Long)
  final case class SrcDrift(src: String, n_tokens: Long, drift_fp: Long)

  /** Streaming drift monitor at ingest — the streaming twin of q150's
    * mixture monitoring ([[graft.text.TextAnalysis.sourceDriftStats]]):
    * each source key holds a B-cell hashed token histogram in
    * `ValueState` — fixed state (`B` longs) regardless of stream length
    * or vocabulary — and after every batch emits the source's RUNNING
    * drift against a reference cell distribution trained offline:
    * `drift_fp = Σ_cells (pa − pb)² div (pa + pb + 1)`, the same
    * χ²-flavored integer statistic as the batch operator, so a batch
    * replay over the same cells reproduces every emission exactly (the
    * spec does). Cells are additive, so emissions are deterministic for
    * a deterministic batch sequence without any in-batch sort. The
    * reference rides the processor (B longs), not a join. */
  class StreamingDriftProcessor(refCells: Array[Long], cells: Int, scale: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, SrcTok, SrcDrift] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[DriftState] = _
    private val refTotal: Long = refCells.sum

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DriftState]("cells",
        org.apache.spark.sql.Encoders.product[DriftState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[SrcTok],
        timerValues: TimerValues): Iterator[SrcDrift] = {
      val st = if (state.exists()) state.get()
        else DriftState(new Array[Long](cells), 0L)
      val counts = st.counts
      var total = st.total
      rows.foreach { r =>
        // a cell outside [0, cells) means the prep ran with a different
        // cell count than this monitor — fail loudly and name it (the
        // under-range form would otherwise just inflate drift forever)
        if (r.cell < 0 || r.cell >= cells)
          throw new IllegalArgumentException(
            s"cell ${r.cell} outside [0, $cells) — srcTokenCells was built " +
              "with a different `cells` than this driftMonitorStream")
        counts(r.cell) += 1L
        total += 1L
      }
      state.update(DriftState(counts, total))
      var drift = 0L
      var i = 0
      while (i < cells) {
        // multiplyExact: the per-cell counts grow without bound over a
        // long-lived stream, and plain Long multiplication would WRAP
        // silently — garbage drift forever. The batch twin fails loudly
        // on overflow (Spark ANSI / DuckDB); this is the same contract.
        val pa = Math.multiplyExact(counts(i), scale) / total
        val pb = Math.multiplyExact(refCells(i), scale) / refTotal
        val diff = pa - pb
        drift += diff * diff / (pa + pb + 1)
        i += 1
      }
      Iterator.single(SrcDrift(key, total, drift))
    }
  }

  /** Hashed-cell prep for [[driftMonitorStream]]: tokenized text →
    * one `SrcTok(src, h60 mod cells)` row per token occurrence — and
    * the SAME expression computes a reference histogram from a batch
    * corpus (`groupBy(cell).count()`). */
  def srcTokenCells(docs: DataFrame, textCol: String, srcCol: String,
      cells: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(col(srcCol).as("src"),
      explode(graft.text.TextAnalysis.tokens(lower(col(textCol)))).as("tok"))
      .select(col("src"),
        pmod(graft.text.TextAnalysis.h60(col("tok")), lit(cells.toLong))
          .cast("int").as("cell"))
  }

  /** Running per-source drift vs an offline reference (see
    * [[StreamingDriftProcessor]]); `refCells(i)` = reference count of
    * cell i, length `cells`. */
  def driftMonitorStream(toks: Dataset[SrcTok], refCells: Array[Long],
      cells: Int = 1024, scale: Long = 1000000L): Dataset[SrcDrift] = {
    require(refCells.length == cells, "refCells must have one entry per cell")
    require(refCells.exists(_ > 0), "reference histogram is empty")
    require(scale > 0 && scale <= 2000000000L,
      s"scale=$scale outside (0, 2e9]")
    import toks.sparkSession.implicits._
    toks.groupByKey(_.src)
      .transformWithState(new StreamingDriftProcessor(refCells, cells, scale),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** One simhash quarter-block occurrence of a streamed document:
    * `block` packs (quarter index << 16) | 15-bit quarter key, so each
    * of a document's 4 blocking keys is its own state partition. */
  final case class BlockDoc(block: Long, doc_id: Long, simhash: Long)
  final case class NearDupPair(id_a: Long, id_b: Long, hamming: Int)
  // parallel arrays, not Map — constant-factor state like CmsState
  final case class BlockState(ids: Array[Long], hashes: Array[Long])

  /** Streaming near-dup detection at ingest — the streaming twin of
    * [[graft.dedup.Dedup.simHashNearDups]] (q55): each simhash
    * quarter-block key holds the `(doc_id, simhash)` entries it has seen
    * (the same 4×15-bit pigeonhole blocking, so every pair within
    * Hamming ≤ 3 shares at least one state partition), and each arriving
    * document is verified against its block's entries — emitting the
    * exact Hamming pairs the batch operator would, as the corpus
    * streams in, including pairs WITHIN a micro-batch.
    *
    * A pair sharing q blocks is emitted q times (once per shared
    * block); entries are normalized `(min_id, max_id)`, so downstream
    * exactly-once is one `dropDuplicatesWithinWatermark` away (kept out
    * of this operator: the CMS/dedup twins' single-stateful-op shape).
    * State per block is capped at `maxBucket` entries — the batch
    * path's bucket-cap discipline ([[graft.dedup.Dedup.lshCandidatePairs]]):
    * a degenerate block (boilerplate fingerprint quarter) stops
    * accumulating instead of turning every future arrival into a
    * quadratic scan; production deployments bound state age with a TTL
    * on top. */
  class StreamingSimHashProcessor(maxHamming: Int, maxBucket: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, BlockDoc, NearDupPair] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[BlockState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[BlockState]("block_docs",
        org.apache.spark.sql.Encoders.product[BlockState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[BlockDoc],
        timerValues: TimerValues): Iterator[NearDupPair] = {
      val st = if (state.exists()) state.get() else BlockState(Array.empty, Array.empty)
      val ids = scala.collection.mutable.ArrayBuffer.from(st.ids)
      val hashes = scala.collection.mutable.ArrayBuffer.from(st.hashes)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      // deterministic in-batch order (the file's processor discipline):
      // at cap saturation, WHICH entries are retained depends on
      // processing order — shuffle-fetch order would make retention (and
      // therefore every future pair) differ run-to-run and on replay
      rows.toArray.sortBy(r => (r.doc_id, r.simhash)).foreach { r =>
        var i = 0
        var seen = false
        while (i < ids.length) {
          if (ids(i) != r.doc_id) {
            val ham = java.lang.Long.bitCount(hashes(i) ^ r.simhash)
            if (ham <= maxHamming)
              out += NearDupPair(math.min(ids(i), r.doc_id),
                math.max(ids(i), r.doc_id), ham)
          } else seen = true
          i += 1
        }
        // membership check: an at-least-once source replaying a doc must
        // not store it again — duplicates would both re-emit its pairs
        // every replay and eat capacity until genuinely new docs are
        // silently dropped at the cap
        if (!seen && ids.length < maxBucket) { ids += r.doc_id; hashes += r.simhash }
      }
      state.update(BlockState(ids.toArray, hashes.toArray))
      out.iterator
    }
  }

  /** Blocked near-dup pair stream (see [[StreamingSimHashProcessor]]).
    * The fingerprint is the per-row [[graft.dedup.Dedup.simHash]]
    * expression — no aggregation, so the only stateful operator is the
    * block-verify stage.
    *
    * '''At-least-once pair emission''': a pair within Hamming distance
    * `maxHamming` can share up to all 4 pigeonhole blocks, and each
    * shared block emits the pair independently — so the same
    * `(id_a, id_b)` may appear up to 4 times per micro-batch.
    * Consumers need a downstream `.distinct()` (or an idempotent
    * keyed sink) — deduplicating inside the per-block processor is
    * impossible because blocks are independent state partitions. */
  def nearDupStream(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val blocked = docs
      .select(col(idCol).cast("long").as("doc_id"),
        graft.dedup.Dedup.simHash(col(textCol)).as("simhash"))
      // a null id (or a non-numeric one the cast nulls out) must drop
      // like the batch twin drops it — encoded into the non-nullable
      // BlockDoc it would instead fail the micro-batch, and a replayed
      // poison row would fail every restart of the query. Null TEXT
      // drops too: the one-pass SimHash60 expression yields a NULL
      // fingerprint for null text (like the batch twin's simHashTable),
      // and the filter below drops it before any block can pair it
      .where(col("doc_id").isNotNull && col("simhash").isNotNull &&
        col(textCol).isNotNull)
      .select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(q =>
          lit(q.toLong * 65536L) +
            shiftright(col("simhash"), q * 15).bitwiseAND(0x7FFFL)): _*))
          .as("block"))
      .select(col("block"), col("doc_id"), col("simhash"))
      .as[BlockDoc]
    blocked.groupByKey(_.block)
      .transformWithState(new StreamingSimHashProcessor(maxHamming, maxBucket),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class WideBlockDoc(block: Long, doc_id: Long,
      sh_lo: Long, sh_hi: Long)
  final case class WideBlockState(ids: Array[Long],
      los: Array[Long], his: Array[Long])

  /** [[StreamingSimHashProcessor]]'s wide twin: state carries both
    * 60-bit halves, the verify is the two-half Hamming sum. Same
    * retention discipline (deterministic in-batch order, at-least-once
    * membership check, maxBucket cap). */
  class StreamingWideSimHashProcessor(maxHamming: Int, maxBucket: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, WideBlockDoc, NearDupPair] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[WideBlockState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[WideBlockState]("wide_block_docs",
        org.apache.spark.sql.Encoders.product[WideBlockState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[WideBlockDoc],
        timerValues: TimerValues): Iterator[NearDupPair] = {
      val st = if (state.exists()) state.get()
        else WideBlockState(Array.empty, Array.empty, Array.empty)
      val ids = scala.collection.mutable.ArrayBuffer.from(st.ids)
      val los = scala.collection.mutable.ArrayBuffer.from(st.los)
      val his = scala.collection.mutable.ArrayBuffer.from(st.his)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      rows.toArray.sortBy(r => (r.doc_id, r.sh_lo, r.sh_hi)).foreach { r =>
        var i = 0
        var seen = false
        while (i < ids.length) {
          if (ids(i) != r.doc_id) {
            val ham = java.lang.Long.bitCount(los(i) ^ r.sh_lo) +
              java.lang.Long.bitCount(his(i) ^ r.sh_hi)
            if (ham <= maxHamming)
              out += NearDupPair(math.min(ids(i), r.doc_id),
                math.max(ids(i), r.doc_id), ham)
          } else seen = true
          i += 1
        }
        if (!seen && ids.length < maxBucket) {
          ids += r.doc_id; los += r.sh_lo; his += r.sh_hi
        }
      }
      state.update(WideBlockState(ids.toArray, los.toArray, his.toArray))
      out.iterator
    }
  }

  /** Wide (120-bit) near-dup pair stream — the streaming twin of
    * [[graft.dedup.Dedup.simHashWideNearDups]]. Fingerprint halves come
    * from the per-row Column forms (same two hash families as the batch
    * aggregate), blocks are the 4×30-bit quarters packed as
    * `(quarter_idx << 30) | key`, and state per block is bounded by
    * `maxBucket`. At corpus scale the 30-bit key space is what keeps
    * per-block state TINY (true near-dups only) where the 60-bit
    * stream's 15-bit blocks accumulate unrelated cohabitants toward the
    * cap.
    *
    * '''At-least-once pair emission''' (same contract as
    * [[nearDupStream]]): a near-dup pair can share up to 4 quarters and
    * each shared quarter emits it independently — consumers must
    * `.distinct()` or write to an idempotent keyed sink. */
  def nearDupWideStream(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    require(maxHamming < 4,
      "4-block pigeonhole blocking is only complete for maxHamming <= 3")
    val (loC, hiC) = graft.dedup.Dedup.simHashWideCols(col(textCol))
    // quarter keys come from the ONE geometry definition in Dedup,
    // packed with the quarter index so the stream's grouping key is a
    // single long — the stream==batch contract cannot drift on geometry
    val packedBlocks = graft.dedup.Dedup
      .simHashWideQuarterKeys(col("sh_lo"), col("sh_hi"))
      .zipWithIndex.map { case (k, q) => lit(q.toLong << 30) + k }
    val blocked = docs
      .select(col(idCol).cast("long").as("doc_id"),
        loC.as("sh_lo"), hiC.as("sh_hi"))
      // same null discipline as the 60-bit stream: null/non-numeric ids
      // and null text drop exactly like the batch twin drops them
      .where(col("doc_id").isNotNull && col("sh_lo").isNotNull &&
        col("sh_hi").isNotNull && col(textCol).isNotNull)
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        explode(array(packedBlocks: _*)).as("block"))
      .select(col("block"), col("doc_id"), col("sh_lo"), col("sh_hi"))
      .as[WideBlockDoc]
    blocked.groupByKey(_.block)
      .transformWithState(new StreamingWideSimHashProcessor(maxHamming, maxBucket),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Streaming exact dedup at ingest — the streaming twin of
    * [[graft.dedup.Dedup.exactDedup]]: fingerprint the payload
    * (whitespace-normalized md5, same family as the batch path) and drop
    * any row whose fingerprint was already seen within the watermark
    * horizon. State is one 32-char fingerprint per distinct document
    * bounded by the watermark (dropDuplicatesWithinWatermark evicts
    * state older than the horizon), so this runs indefinitely at ingest
    * scale — the batch dedup then only handles cross-horizon dups. */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    // internal fingerprint name + drop: withColumn("fp", …) would
    // silently REPLACE a caller's fp column and leak the md5 into the
    // output — the exact hazard the batch twin (exactDedup) guards
    require(!docs.columns.contains("_graft_fp"),
      "input already has a _graft_fp column")
    docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withColumn("_graft_fp", graft.text.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_graft_fp")
      .drop("_graft_fp")
  }

  /** Streaming quality gate at ingest — the serving half of the
    * train-offline/score-online classifier cycle
    * ([[graft.text.TextAnalysis.trainTokenWeights]] builds the weight
    * table in batch; this gate applies it to arriving documents). The
    * weights become a map LITERAL in the streaming plan — each row
    * scores with a pure codegen'd HOF fold (same arithmetic as the
    * batch scorer: integer mean token weight, OOV at the neutral
    * prior) and rows under `minScore` drop at the door. STATELESS by
    * construction: no groupBy, no watermark, zero state store — the
    * gate runs indefinitely at ingest scale. The literal embed bounds
    * the vocabulary (`maxVocab`); prune the weight table to its
    * discriminative tokens when the trained vocabulary outgrows it. */
  def classifierGateStream(docs: DataFrame, textCol: String,
      weights: DataFrame, minScore: Long, neutral: Long = 500000L,
      maxVocab: Int = 1000000): DataFrame = {
    val rows = weights.collect()
    require(rows.length <= maxVocab,
      s"weight table ${rows.length} exceeds maxVocab=$maxVocab — prune " +
        "the vocabulary before embedding it in the streaming plan")
    // withColumn REPLACES same-named caller columns — guard the
    // internals and the emitted score (a re-scoring pass feeding docs
    // that already carry score_fp must not silently lose it)
    Seq("_s", "_n", "score_fp").foreach(c => require(!docs.columns.contains(c),
      s"input already has a '$c' column — rename it before gating"))
    val m = typedLit(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
    val toks = graft.text.TextAnalysis.tokens(lower(col(textCol)))
    docs
      .withColumn("_s", aggregate(
        transform(toks, t => coalesce(element_at(m, t), lit(neutral))),
        lit(0L), (acc, x) => acc + x))
      .withColumn("_n", size(toks).cast("long"))
      .withColumn("score_fp", expr("_s div _n"))
      .filter(col("score_fp") >= minScore)
      .drop("_s", "_n")
  }

  final case class AnnCandidate(query_id: Long, neighbor_id: Long, cos: Double)
  final case class AnnNeighbor(query_id: Long, rnk: Long, neighbor_id: Long,
      cos: Double)
  final case class AnnTopKState(ids: Array[Long], cos: Array[Double])

  /** Per-query running top-k: state is the current best-k (sorted by
    * cos desc, id asc — [[graft.sim.IvfIndex.search]]'s exact ordering),
    * each batch merges that key's new candidates and re-emits the FULL
    * refreshed top-k (Update semantics — consumers upsert by
    * `(query_id, rnk)`). State is 2k scalars per distinct query id;
    * queries are transient by nature, so a production deployment sets a
    * TTL on the handle where this harness (like the near-dup streams)
    * keeps TimeMode.None. */
  class StreamingTopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AnnCandidate, AnnNeighbor] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[AnnTopKState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[AnnTopKState]("ann_topk",
        org.apache.spark.sql.Encoders.product[AnnTopKState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[AnnCandidate],
        timerValues: TimerValues): Iterator[AnnNeighbor] = {
      val st = if (state.exists()) state.get() else AnnTopKState(Array.empty, Array.empty)
      // re-delivered candidates (at-least-once sources replaying a query
      // row) dedup by neighbor id — cos is deterministic so last wins
      val merged = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
      st.ids.indices.foreach(i => merged(st.ids(i)) = st.cos(i))
      rows.foreach(c => merged(c.neighbor_id) = c.cos)
      val top = merged.toArray.sortBy { case (id, c) => (-c, id) }.take(k)
      state.update(AnnTopKState(top.map(_._1), top.map(_._2)))
      top.iterator.zipWithIndex.map { case ((id, c), i) =>
        AnnNeighbor(key, i + 1L, id, c)
      }
    }
  }

  /** Streaming ANN probe at ingest — the serving half of the
    * build-offline/probe-online vector-search cycle
    * ([[graft.sim.IvfIndex.build]] trains the quantizer in batch; this
    * probes arriving query embeddings against it). The centroid matrix
    * embeds in the streaming plan as float-array LITERALS (bounded by
    * nlist — same discipline as [[classifierGateStream]]'s weight
    * table), so per-row probe-cell selection is a pure codegen'd
    * expression: nlist `(|c|² − 2q·c, cell)` structs, `array_sort` (cdist
    * asc, cell asc — [[graft.sim.IvfIndex]]'s probe ordering exactly),
    * `slice` nprobe, explode. Candidates come from a STATELESS
    * stream-static inner join on `cell` against the index relation, and
    * the only state is [[StreamingTopKProcessor]]'s 2k scalars per
    * in-flight query.
    *
    * Scale note: a stream-static join re-plans the static side per
    * micro-batch; with `model.cells` backed by the cell-partitioned
    * parquet layout ([[graft.sim.IvfIndex.save]]), the join key filter
    * prunes to probed cells only when the optimizer pushes it — for
    * guaranteed static pruning at 100 TB, the `foreachBatch` form
    * calling [[graft.sim.IvfIndex.searchIndexed]] per batch is the
    * drop-in alternative (same result contract; that path collects the
    * batch's probe set and pushes a literal IN over the partition
    * column). This declarative form is the one that composes with
    * further streaming stages.
    *
    * Emission: Update-mode running top-k per query — consumers upsert by
    * `(query_id, rnk)`; with a single-batch trigger (AvailableNow) the
    * output IS [[graft.sim.IvfIndex.search]]'s result (spec-pinned). */
  /** The shared streaming probe-cell stage: arriving query rows become
    * `(query_id, q_vec, cell)` with one exploded row per probed cell —
    * the centroid matrix embedded as float-array literals (bounded by
    * nlist), cdist/cell struct sort replaying [[graft.sim.IvfIndex]]'s
    * exact probe ordering. Shared by [[annProbeStream]] (float-vector
    * candidates) and [[sqProbeStream]] (byte-code candidates) so the
    * two serves can never drift on probe discipline. */
  private def probeCellsExploded(queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val cents = centroids.orderBy("cell").collect()
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Float](r.fieldIndex("centroid"))))
    require(nprobe >= 1 && nprobe <= cents.length,
      s"nprobe=$nprobe out of range for nlist=${cents.length}")
    val distStructs = cents.map { case (cellId, c) =>
      val litC = typedlit(c)
      struct((vec_dot(litC, litC) - lit(2.0) * vec_dot(col("q_vec"), litC))
        .as("cdist"), lit(cellId).as("cell"))
    }
    queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("q_vec"))
      // same null discipline as the batch probe (probesFor drops null
      // vectors; a null id cannot key the state store)
      .where(col("query_id").isNotNull && col("q_vec").isNotNull)
      .withColumn("cell", explode(transform(
        slice(array_sort(array(distStructs.toIndexedSeq: _*)), 1, nprobe),
        x => x("cell"))))
  }

  def annProbeStream(queries: DataFrame, model: graft.sim.IvfIndex.Model,
      idCol: String, vecCol: String, k: Int, nprobe: Int): Dataset[AnnNeighbor] = {
    import queries.sparkSession.implicits._
    require(k >= 1, "k must be >= 1")
    val probed = probeCellsExploded(queries, model.centroids, idCol, vecCol, nprobe)
    probed
      .join(model.cells.select(col("cell"),
          col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("c_vec")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.sim.Similarity.cosine(col("q_vec"), col("c_vec")).as("cos"))
      .as[AnnCandidate]
      .groupByKey(_.query_id)
      .transformWithState(new StreamingTopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class PackInput(doc_id: Long, bucket: Int, n_tokens: Long)
  final case class PackState(seq: Long, fill: Long, pos: Int, lastId: Long)

  /** Per-bucket streaming greedy packer: carries `(seq, fill, pos)`
    * across micro-batches so arriving documents CONTINUE the standing
    * pack instead of restarting it — the streaming twin of
    * [[graft.text.TextAnalysis.packSequences]], whose id-order design
    * is exactly what makes this fold well-defined: under the monotone-id
    * delivery contract (each batch's ids exceed the last's — the shape
    * of any append-only ingest with assigned ids), the stream's
    * placements equal the batch pack of everything seen, boundaries
    * included (spec-pinned). Rows inside a batch sort by id before the
    * fold (per-bucket per-BATCH memory, not standing state), and
    * `lastId` drops at-least-once redeliveries — a replayed document
    * must not be packed twice. State: four scalars per bucket. */
  class StreamingPackProcessor(maxTokens: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, PackInput, graft.text.TextAnalysis.PackedDoc] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[PackState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PackState]("pack",
        org.apache.spark.sql.Encoders.product[PackState], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[PackInput],
        timerValues: TimerValues): Iterator[graft.text.TextAnalysis.PackedDoc] = {
      val st = if (state.exists()) state.get()
        else PackState(0L, 0L, 0, Long.MinValue)
      var seq = st.seq; var fill = st.fill; var pos = st.pos
      var lastId = st.lastId
      val out = rows.toArray.sortBy(_.doc_id)
        .filter(_.doc_id > lastId) // redelivered prefix drops
        .map { r =>
          if (fill > 0L && fill + r.n_tokens > maxTokens) {
            seq += 1; fill = 0L; pos = 0
          }
          fill += r.n_tokens
          lastId = r.doc_id
          val placed = graft.text.TextAnalysis.PackedDoc(
            r.doc_id, key, seq, pos, r.n_tokens)
          pos += 1
          placed
        }
      state.update(PackState(seq, fill, pos, lastId))
      out.iterator
    }
  }

  /** Streaming greedy sequence packing at ingest — each arriving
    * document is assigned its `(bucket, seq, pos)` training-sequence
    * placement ONCE, immediately, and the standing pack never rewrites:
    * exactly the property a downstream sequence-builder needs to
    * materialize shards incrementally. The batch packer re-packs its
    * whole input per run; this form pays each document once, forever —
    * the packing counterpart of `foldBatchIntoClusters`' append-only
    * discipline. Update mode; every row is a new placement. */
  def packStream(docs: DataFrame, textCol: String, idCol: String,
      maxTokens: Int, nBuckets: Int): Dataset[graft.text.TextAnalysis.PackedDoc] = {
    import docs.sparkSession.implicits._
    require(maxTokens >= 1, s"maxTokens=$maxTokens must be >= 1")
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        pmod(graft.text.TextAnalysis.h60(
          concat(col(idCol).cast("string"), lit(":pack"))),
          lit(nBuckets.toLong)).cast("int").as("bucket"),
        size(graft.text.TextAnalysis.tokens(col(textCol))).cast("long")
          .as("n_tokens"))
      .where(col("doc_id").isNotNull)
      .as[PackInput]
      .groupByKey(_.bucket)
      .transformWithState(new StreamingPackProcessor(maxTokens),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class AdcCandidate(query_id: Long, neighbor_id: Long, adist_fp: Long)
  final case class AdcNeighbor(query_id: Long, rnk: Long, neighbor_id: Long,
      adist_fp: Long, adist: Double)
  final case class AdcTopKState(ids: Array[Long], dists: Array[Long])

  /** [[StreamingTopKProcessor]]'s fixed-point twin: running best-k by
    * (adist_fp ASC, id asc) — [[graft.sim.PqIndex.topKByAdc]]'s exact
    * ordering, so every compressed-code serve shares one ranking
    * definition. Same Update-mode re-emission, same at-least-once
    * dedup-by-neighbor merge (distances are deterministic longs). */
  class StreamingAdcTopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AdcCandidate, AdcNeighbor] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[AdcTopKState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[AdcTopKState]("adc_topk",
        org.apache.spark.sql.Encoders.product[AdcTopKState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[AdcCandidate],
        timerValues: TimerValues): Iterator[AdcNeighbor] = {
      val st = if (state.exists()) state.get() else AdcTopKState(Array.empty, Array.empty)
      val merged = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      st.ids.indices.foreach(i => merged(st.ids(i)) = st.dists(i))
      rows.foreach(c => merged(c.neighbor_id) = c.adist_fp)
      val top = merged.toArray.sortBy { case (id, d) => (d, id) }.take(k)
      state.update(AdcTopKState(top.map(_._1), top.map(_._2)))
      top.iterator.zipWithIndex.map { case ((id, d), i) =>
        AdcNeighbor(key, i + 1L, id, d, d.toDouble / 1e9)
      }
    }
  }

  /** Streaming IVF∘SQ8 probe at ingest — [[annProbeStream]] with the
    * static side COMPRESSED: candidates join against `(cell,
    * neighbor_id, codes)` byte-code rows instead of float vectors, and
    * the pair cost is the codegen'd fixed-point
    * [[graft.functions.SqAdcDist]]. The scale motivation is specific to
    * streaming: a stream-static join re-plans and RE-SCANS the static
    * side every micro-batch, so a 4×-smaller static relation is a
    * 4×-smaller cost PER BATCH, forever — compression pays down the
    * whole stream lifetime, not once. Probe discipline is
    * [[probeCellsExploded]], shared with the float form; state is 3k
    * scalars per in-flight query. With a single-batch trigger the
    * output IS [[graft.sim.SqIndex.searchIvfSq]]'s result, including
    * the fixed-point distances (spec-pinned, with a re-delivered
    * query). */
  def sqProbeStream(queries: DataFrame, ivf: graft.sim.IvfIndex.Model,
      m: graft.sim.SqIndex.Model, idCol: String, vecCol: String, k: Int,
      nprobe: Int): Dataset[AdcNeighbor] = {
    import queries.sparkSession.implicits._
    require(k >= 1, "k must be >= 1")
    val probed = probeCellsExploded(queries, ivf.centroids, idCol, vecCol, nprobe)
    val codesRel = ivf.cells.filter(col(vecCol).isNotNull)
      .select(col("cell"), col(idCol).cast("long").as("neighbor_id"),
        graft.sim.SqIndex.codesExpr(m, col(vecCol)).as("codes"))
    probed
      .join(codesRel, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.sq_adc_dist(col("codes"), col("q_vec"),
          m.vmin, m.vdiff).as("adist_fp"))
      .as[AdcCandidate]
      .groupByKey(_.query_id)
      .transformWithState(new StreamingAdcTopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Streaming multi-table LSH probe at ingest — the LSH counterpart of
    * [[annProbeStream]], and the zero-model serving path: there is no
    * trained quantizer to embed, because the "index" is just the corpus
    * keyed by the same deterministic hyperplane stream every engine can
    * recompute. Each arriving query row computes its L band-family
    * bucket keys as pure codegen'd expressions
    * ([[graft.functions.VectorFunctions.vec_lsh_key_band]] — the exact
    * families [[graft.sim.Similarity.lshTopKTables]] uses), multiprobe-
    * expands them, and draws candidates from a STATELESS stream-static
    * join on `(tbl, bucket)`. Cross-table duplicate candidates fold in
    * [[StreamingTopKProcessor]]'s per-neighbor merge — the same
    * discipline that makes at-least-once redelivery idempotent also
    * dedups the OR-amplified tables, so no distinct stage is needed.
    * With a single-batch trigger the output IS `lshTopKTables`'s
    * result (spec-pinned, including a re-delivered query). */
  def lshProbeStream(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, bits: Int, tables: Int,
      multiprobe: Boolean = true): Dataset[AnnNeighbor] = {
    import queries.sparkSession.implicits._
    require(k >= 1, "k must be >= 1")
    // THE batch candidate generation (band families, multiprobe masks,
    // null discipline live in exactly one place — lshCandidateScan);
    // broadcastQueries=false: a stream cannot broadcast, the
    // stream-static join keeps the corpus static
    graft.sim.Similarity.lshCandidateScan(queries, corpus, idCol, vecCol,
        dim, bits, tables, multiprobe, broadcastQueries = false)
      .as[AnnCandidate]
      .groupByKey(_.query_id)
      .transformWithState(new StreamingTopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Stream-stream interval join: each event joins lookup rows for the
    * same key whose event time falls within `[event.ts - horizon,
    * event.ts]` — the streaming enrich pattern (click ↔ impression,
    * reading ↔ calibration). Both sides are watermarked so the join
    * state is bounded: a buffered row is dropped once the other side's
    * watermark passes its eligibility window. */
  def intervalJoin(events: DataFrame, lookups: DataFrame, keyCol: String,
      horizon: String = "5 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = events.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay).alias("l")
    val r = lookups.withColumn("r_ts", col("r_ts").cast("timestamp"))
      .withWatermark("r_ts", watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.r_ts") >= col("l.ts") - expr(s"INTERVAL $horizon") &&
        col("r.r_ts") <= col("l.ts"))
      .drop(col(s"r.$keyCol"))
  }

  /** Incremental dedup-CLUSTER maintenance at ingest — the streaming
    * face of [[graft.dedup.Dedup.appendComponents]] (14th capability).
    * Standing state under `statePath` is two parquet tables: `fps/`
    * (the corpus fingerprint table, append-only) and `clusters/` (the
    * [[graft.dedup.Dedup.connectedComponents]] output contract,
    * replaced per batch via temp-swap). Each micro-batch: fingerprint
    * ONLY the arriving docs (both wide halves in one pass — fps/ stores
    * `(id, sh_lo, sh_hi)`, and sh_lo doubles as the 60-bit family's
    * fingerprint), anti-join away ids already in the stored fps (the
    * at-least-once guard), block-join the genuinely-new fingerprints
    * against stored ∪ new — via
    * [[graft.dedup.Dedup.simHashNearDupsAgainstFps]] (15-bit blocks)
    * below `wideThreshold` standing docs and
    * [[graft.dedup.Dedup.simHashWideNearDupsAgainstFps]] (30-bit
    * blocks) above it, so per-batch candidate volume tracks true
    * near-dup density instead of growing linearly with the standing
    * corpus; old×old pairs are never regenerated either way — and fold
    * the pairs into the standing clusters via the star-edges identity.
    * The `family` knob pins one semantics for the whole stream
    * (the two families' pair sets differ: 120-bit hamming ≤ h is
    * stricter); `Auto` logs each batch's dispatch.
    *
    * This is deliberately `foreachBatch`, not a stateful operator: a
    * transitive closure has GLOBAL state (any arriving doc can merge
    * any two standing clusters), which no per-key state store models
    * honestly — while per-batch jobs over parquet state scale exactly
    * like the batch operators they reuse.
    *
    * Scale ledger (measured, 5M standing / 100k batches): per-batch
    * COMPUTE is flat — the wide family kills the candidate-volume term
    * and [[graft.dedup.Dedup.appendComponentsDelta]] kills the
    * whole-star re-closure (35.8 → 35.3 s first5/last5 across the
    * soak). The remaining standing-state-linear terms are I/O: the fps
    * anti-join scan (24 B/doc — the honest dedup floor) and the full
    * clusters-table rewrite per batch (~25 MB at 1.4M rows here; the
    * temp-swap is what makes crash recovery a directory rename). The
    * rewrite is the next cliff at 10^10+ docs: fixing it needs a
    * component-sharded state layout with per-shard swaps PLUS an
    * id-indexed lookup path (members of a touched component are
    * scattered under any id-based sharding, and batch ids' components
    * are scattered under any component-based sharding — a second copy
    * or an LSM-style compaction cycle, named here rather than half
    * built). Replay-idempotent at every
    * crash window: a re-delivered doc anti-joins to nothing (pairs
    * already folded), and re-folding pairs whose connectivity the
    * clusters already contain is a fixpoint of appendComponents
    * (spec'd). Crash between the clusters swap and the fps append
    * replays into the same fixpoint. The swap itself recovers a
    * half-completed rename on the next batch.
    *
    * Returns the per-batch fold so [[incrementalClustersSink]] and
    * tests share one body. */
  def foldBatchIntoClusters(batch: DataFrame, textCol: String, idCol: String,
      statePath: String, maxHamming: Int = 2,
      family: graft.dedup.NearDupFamily = graft.dedup.NearDupFamily.Auto,
      wideThreshold: Long = 100000L): Unit = {
    import graft.dedup.{Dedup, NearDupFamily}
    val spark = batch.sparkSession
    val fpsPath = s"$statePath/fps"
    val clPath = s"$statePath/clusters"
    val clTmp = s"$statePath/clusters_tmp"
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(hconf)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    // FileSystem.rename/delete report some failures as `false` rather
    // than throwing (destination exists, object-store semantics) — an
    // unchecked swap would leave the clusters table silently missing or
    // stale until the next batch. A failed swap must be an ERROR.
    def renameOrThrow(src: String, dst: String): Unit =
      require(fs.rename(new org.apache.hadoop.fs.Path(src),
        new org.apache.hadoop.fs.Path(dst)),
        s"cluster-state swap failed: rename($src -> $dst) returned false")
    // recovery: a crash after the old clusters were dropped but before
    // the tmp rename leaves only clusters_tmp — finish the swap first
    if (!exists(clPath) && exists(clTmp))
      renameOrThrow(clTmp, clPath)
    // fps/ stores BOTH wide fingerprint halves (idCol, sh_lo, sh_hi) —
    // sh_lo IS the 60-bit family's fingerprint (same h60(token) vote;
    // [[graft.dedup.Dedup.simHashWideCols]]), so one tokenize pass per
    // batch serves both families and the dispatch below never
    // re-fingerprints the standing corpus
    val stored = if (exists(fpsPath)) {
      val s = ParquetMeta.read(spark, fpsPath)
      require(s.columns.contains("sh_hi"),
        s"legacy 60-bit fps state at $fpsPath (no sh_hi column) — the " +
          "wide-capable fold stores both fingerprint halves; rebuild the " +
          "standing fps table from the corpus (fingerprints are pure " +
          "per-doc values; the clusters table is unaffected)")
      Some(s)
    } else None
    val newFps0 = Dedup.simHashWideTable(batch, textCol, idCol)
    val newFps = stored.map(s =>
        newFps0.join(s.select(col(idCol)), Seq(idCol), "left_anti"))
      .getOrElse(newFps0).localCheckpoint(true)
    if (newFps.isEmpty) return // pure redelivery — state already folded
    val allFps = stored.map(_.unionByName(newFps)).getOrElse(newFps)
    // standing-state size: a parquet footer count on the stored fps —
    // no data scan. Auto crosses to the wide family once per-batch
    // 15-bit-bucket candidate volume (~batch·4·N/2^15) would start
    // growing linearly with the standing corpus; the two families
    // produce DIFFERENT pair sets by design (120-bit hamming ≤ h is
    // stricter than 60-bit ≤ h), so a pipeline that needs one semantics
    // for the whole stream pins `family` — Auto logs its choice and the
    // standing count so the crossover batch is visible in the run log.
    val useWide = family match {
      case NearDupFamily.Narrow60 => false
      case NearDupFamily.Wide120  => true
      case NearDupFamily.Auto =>
        val standing = stored.map(_.count()).getOrElse(0L)
        val w = standing >= wideThreshold
        System.err.println(s"[foldBatchIntoClusters] standing=$standing " +
          s"docs → ${if (w) "Wide120" else "Narrow60"} family " +
          s"(wideThreshold=$wideThreshold; pair-set semantics differ — " +
          "pin `family` for stream-long reproducibility)")
        w
    }
    val pairs = if (useWide)
      Dedup.simHashWideNearDupsAgainstFps(newFps, allFps, idCol, maxHamming)
    else
      Dedup.simHashNearDupsAgainstFps(
        newFps.select(col(idCol), col("sh_lo").as("simhash")),
        allFps.select(col(idCol), col("sh_lo").as("simhash")),
        idCol, maxHamming)
    // DELTA fold: closure over only the components the batch touches —
    // the plain appendComponents re-closed every standing component's
    // star each batch, the one remaining standing-state-linear term
    // (measured on the 5M wide soak; see appendComponentsDelta)
    val next = (if (exists(clPath))
        Dedup.appendComponentsDelta(ParquetMeta.read(spark, clPath), pairs,
          "id_a", "id_b")
      else Dedup.connectedComponents(pairs, "id_a", "id_b"))
    next.write.mode("overwrite").parquet(clTmp)
    // delete returning false with the path still present = failed drop;
    // false because the path is already gone (first batch) is fine
    require(fs.delete(new org.apache.hadoop.fs.Path(clPath), true) ||
        !exists(clPath),
      s"cluster-state swap failed: could not delete stale $clPath")
    renameOrThrow(clTmp, clPath)
    newFps.write.mode("append").parquet(fpsPath)
  }

  /** [[foldBatchIntoClusters]] as a streaming sink: file-stream (or any
    * streaming) docs in, standing `fps/` + `clusters/` parquet state
    * out, one fold per micro-batch. AvailableNow gives the poll-then-
    * stop shape; a processing-time trigger gives continuous
    * maintenance. */
  def incrementalClustersSink(docs: DataFrame, textCol: String,
      idCol: String, statePath: String, checkpointLocation: String,
      maxHamming: Int = 2,
      family: graft.dedup.NearDupFamily = graft.dedup.NearDupFamily.Auto,
      wideThreshold: Long = 100000L): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch((b: DataFrame, _: Long) =>
        foldBatchIntoClusters(b, textCol, idCol, statePath, maxHamming,
          family, wideThreshold))
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.AvailableNow())
      .start()
}
