package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables
import EventsStream.{Event, Session}

class EventsStreamSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with the RocksDB state store provider (required by
    * transformWithState), restoring the previous provider after. */
  private def withRocksDBProvider[A](body: => A): A = {
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerConf)
    spark.conf.set(providerConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerConf, v)
      case None => spark.conf.unset(providerConf)
    }
  }

  private def ev(id: Long, t: String, user: Long, typ: String = "click",
      v: Double = 1.0): Event =
    Event(id, Timestamp.valueOf(t), user, typ, v)

  test("windowed agg over a memory stream matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      ev(1, "2024-01-01 00:01:00", 1), ev(2, "2024-01-01 00:02:00", 1),
      ev(3, "2024-01-01 00:07:00", 2), ev(4, "2024-01-01 01:00:00", 2))
    val agg = EventsStream.windowedAgg(mem.toDF(), "5 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    mem.addData(ev(5, "2024-01-01 03:00:00", 3)) // push watermark forward
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_agg")
      .select("window_start", "n").orderBy("window_start").collect()
    // first window [00:00,00:05): 2 events; [00:05,00:10): 1; [01:00,01:05): 1
    assert(rows.map(_.getLong(1)).take(3).toSeq == Seq(2L, 1L, 1L))
  }

  test("streaming incremental copy with AvailableNow + checkpoint (G/J)") {
    val base = Files.createTempDirectory("stream")
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckp = s"$base/ckp"
    Tables(spark, sf(), "nation").write.parquet(src)
    EventsStream.incrementalCopy(spark, src, dst, ckp)
    assert(spark.read.parquet(dst).count() == 25)
    // second run: checkpoint remembers processed files → no duplicates
    EventsStream.incrementalCopy(spark, src, dst, ckp)
    assert(spark.read.parquet(dst).count() == 25)
    // new data arrives → only the delta is appended
    Tables(spark, sf(), "region").select(
      col("r_regionkey").as("n_nationkey"), col("r_name").as("n_name"),
      col("r_regionkey").as("n_regionkey")).write.mode("append").parquet(src)
    EventsStream.incrementalCopy(spark, src, dst, ckp)
    assert(spark.read.parquet(dst).count() == 30)
  }

  test("sessionization closes sessions at the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // user 1: two bursts 2h apart → first session closes when second starts
    mem.addData(
      ev(1, "2024-01-01 00:00:00", 1, v = 2.0), ev(2, "2024-01-01 00:10:00", 1, v = 3.0),
      ev(3, "2024-01-01 02:00:00", 1, v = 5.0))
    val sessions = EventsStream.sessionize(mem.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    q.processAllAvailable()
    // a much-later event (any user) advances the watermark past user 1's
    // gap → the open 02:00 session closes via event-time timeout
    mem.addData(ev(4, "2024-01-02 12:00:00", 2))
    q.processAllAvailable()
    mem.addData(ev(5, "2024-01-03 12:00:00", 2)) // one more batch to fire timeouts
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions").as[Session].collect().sortBy(_.session_start.getTime)
    assert(closed.length >= 2)
    assert(closed(0).n_events == 2 && closed(0).total_value == 5.0)
    assert(closed(0).session_start == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(closed(0).session_end == Timestamp.valueOf("2024-01-01 00:10:00"))
    // the timed-out session (02:00 burst)
    assert(closed(1).session_start == Timestamp.valueOf("2024-01-01 02:00:00"))
    assert(closed(1).n_events == 1 && closed(1).total_value == 5.0)
  }

  test("sessionization: a late in-watermark event never rewinds session_end") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // batch 1 establishes [00:00, 00:20]
    mem.addData(
      ev(1, "2024-01-01 00:00:00", 1, v = 1.0), ev(2, "2024-01-01 00:20:00", 1, v = 1.0))
    val sessions = EventsStream.sessionize(mem.toDS(), gapMinutes = 30,
      watermarkDelay = "2 hours")
    val q = sessions.writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: a LATE event inside the session (00:10), then 00:45 —
    // 25 min after the true session end, so SAME session; the rewind
    // bug set end=00:10 and split at 00:45
    mem.addData(ev(3, "2024-01-01 00:10:00", 1, v = 1.0),
      ev(4, "2024-01-01 00:45:00", 1, v = 1.0))
    q.processAllAvailable()
    // advance the watermark far past the gap to close via timeout
    mem.addData(ev(5, "2024-01-02 12:00:00", 2))
    q.processAllAvailable()
    mem.addData(ev(6, "2024-01-03 12:00:00", 2))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessions_late").as[Session].collect()
      .filter(_.user_id == 1).sortBy(_.session_start.getTime)
    assert(u1.length == 1, s"session wrongly split: ${u1.toSeq}")
    assert(u1(0).n_events == 4 &&
      u1(0).session_end == Timestamp.valueOf("2024-01-01 00:45:00"))
  }

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)
  final case class Lookup(user_id: Long, r_ts: Timestamp, label: String)

  test("stream-stream interval join enriches within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val ev = MemoryStream[Event]
    val lk = MemoryStream[Lookup]
    val joined = EventsStream.intervalJoin(ev.toDF(), lk.toDF(), "user_id",
      horizon = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    lk.addData(
      Lookup(1, Timestamp.valueOf("2024-01-01 00:00:00"), "in_window"),
      Lookup(1, Timestamp.valueOf("2024-01-01 00:10:00"), "after_event"),
      Lookup(2, Timestamp.valueOf("2024-01-01 00:04:00"), "other_user"))
    ev.addData(ev1(1, "2024-01-01 00:03:00"))   // joins "in_window" only
    q.processAllAvailable()
    q.stop()
    val labels = spark.table("ss_join").select("label")
      .collect().map(_.getString(0)).toSeq
    assert(labels == Seq("in_window"))
  }

  private def ev1(user: Long, t: String): Event =
    Event(user * 100, Timestamp.valueOf(t), user, "click", 1.0)

  test("streaming dedup drops within-watermark duplicates, keeps the first") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val deduped = EventsStream.dedupStream(mem.toDF(), "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    // batch 1: an in-batch duplicate (same text, different whitespace —
    // the normalized fingerprint must catch it)
    mem.addData(
      Doc(1, Timestamp.valueOf("2024-01-01 00:00:00"), "hello world"),
      Doc(2, Timestamp.valueOf("2024-01-01 00:01:00"), "  hello   world "),
      Doc(3, Timestamp.valueOf("2024-01-01 00:02:00"), "something else"))
    q.processAllAvailable()
    // batch 2: a cross-batch duplicate within the watermark horizon
    mem.addData(Doc(4, Timestamp.valueOf("2024-01-01 00:03:00"), "hello world"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L))
    // the internal fingerprint never leaks into the output schema
    assert(spark.table("dedup_stream").columns.toSeq == Seq("doc_id", "ts", "text"))
  }

  test("classifier gate: offline-trained weights filter the stream, scores == batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    // offline half: train on a planted labeled batch
    val labeled = Seq(
      ("alpha beta alpha beta", true), ("alpha beta beta alpha", true),
      ("gamma delta gamma delta", false), ("gamma delta delta gamma", false)
    ).toDF("text", "is_target")
    val w = graft.text.TextAnalysis.trainTokenWeights(labeled, "text", col("is_target"))
    // online half: gate a stream at the midpoint
    val mem = MemoryStream[(Long, String)]
    val gated = EventsStream.classifierGateStream(
      mem.toDF().toDF("doc_id", "text"), "text", w, minScore = 500000L)
    val q = gated.writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    mem.addData((1L, "alpha beta"), (2L, "gamma delta"), (3L, "zulu xray"))
    q.processAllAvailable()
    mem.addData((4L, "alpha gamma"), (5L, "delta delta gamma"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gate_stream").select("doc_id", "score_fp")
      .as[(Long, Long)].collect().toMap
    // survivors: pure-target (1), OOV-neutral (3), midpoint split (4);
    // background-heavy rows 2 and 5 drop
    assert(got == Map(1L -> 1000000L, 3L -> 500000L, 4L -> 500000L))
    // the stateless gate's scores equal the batch scorer's on the same rows
    val batch = graft.text.TextAnalysis.scoreByTokenWeights(
      Seq((1L, "alpha beta"), (3L, "zulu xray"), (4L, "alpha gamma"))
        .toDF("doc_id", "text"), "doc_id", "text", w)
      .select("doc_id", "score_fp").as[(Long, Long)].collect().toMap
    assert(batch == got)
    // no state store: the streaming plan is stateless (no StateStore ops)
    assert(!gated.queryExecution.analyzed.toString.toLowerCase.contains("statestore"))
  }

  test("gopher quality gate streams as-is: stream == batch, stateless plan") {
    implicit val sqlCtx = spark.sqlContext
    // gopherRules is pure per-row expression math, so it applies to a
    // streaming DataFrame UNCHANGED — no twin needed; this pins that the
    // plan stays stateless (no aggregation sneaks in) and that the gate
    // decisions match the batch run row for row
    val rows = Seq(
      (1L, ("the a " + "word " * 30).trim), // passes
      (2L, ("the a " + "word " * 5).trim),  // too short
      (3L, ("word " * 30).trim))            // no stopword hits
    val mem = MemoryStream[(Long, String)]
    val gated = graft.text.TextAnalysis.gopherRules(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
      minWords = 20, maxWords = 100, stopSet = Seq("the", "a"))
    assert(gated.isStreaming)
    assert(!gated.queryExecution.analyzed.toString.toLowerCase
      .contains("statestore"))
    val q = gated.writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gopher_stream")
      .select("doc_id", "passes").as[(Long, Boolean)].collect().toMap
    val batch = graft.text.TextAnalysis.gopherRules(
      rows.toDF("doc_id", "text"), "text", "doc_id",
      minWords = 20, maxWords = 100, stopSet = Seq("the", "a"))
      .select("doc_id", "passes").as[(Long, Boolean)].collect().toMap
    assert(got == batch && got == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("streaming near-dup pairs == batch simHashNearDups over the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val docs = Seq(
        (1L, base),                         // batch 1
        (2L, base.replace("delta", "DELTA")), // lowercased away → exact dup of 1
        (3L, "completely different words about another topic entirely here now"),
        (4L, base),                         // batch 2: cross-batch dup of 1 and 2
        (5L, base.replace("kappa", "xappa")) // near (one token changed)
      )
      val mem = MemoryStream[(Long, String)]
      val pairs = EventsStream.nearDupStream(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id", maxHamming = 3)
      val q = pairs.writeStream.format("memory").queryName("neardup_stream")
        .outputMode("update").start()
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("neardup_stream")
        .select("id_a", "id_b", "hamming").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batch = graft.dedup.Dedup.simHashNearDups(
        docs.toDF("doc_id", "text"), "text", "doc_id", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // the stream found exactly the batch operator's pairs — including
      // the in-batch pair (1,2) and the cross-batch pairs through state
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(batch.exists(p => p._1 == 1L && p._2 == 4L), "cross-batch dup expected")
      assert(batch.exists(p => p._1 == 1L && p._2 == 2L), "in-batch dup expected")
    }
  }

  test("incremental clusters sink: standing state == batch CC after each micro-batch; replay is a fixpoint") {
    val docs = graft.sources.Tables(spark, sf("sf0.01"), "documents")
    val b1 = docs.filter(col("doc_id") % 3 =!= 0)
    val b2 = docs.filter(col("doc_id") % 3 === 0)
    val base = Files.createTempDirectory("incclusters")
    val src = s"$base/src"; val state = s"$base/state"; val ckp = s"$base/ckp"
    def standing() = spark.read.parquet(s"$state/clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    // the reference runs the distributed loop; the sink's folds label on
    // the driver at this size, so the two paths are checked against each
    // other
    def batchCC(d: org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.connectedComponentsDistributed(
        graft.dedup.Dedup.simHashNearDups(d, "text", "doc_id", maxHamming = 2),
        "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).sortBy(_._1).toSeq
    // micro-batch 1 via the real file-stream sink
    b1.write.parquet(src)
    EventsStream.incrementalClustersSink(
      spark.readStream.schema(docs.schema).parquet(src),
      "text", "doc_id", state, ckp, maxHamming = 2).awaitTermination()
    assert(standing() == batchCC(b1))
    // micro-batch 2 arrives: clusters fold incrementally, result == the
    // batch recompute over EVERYTHING seen so far
    b2.write.mode("append").parquet(src)
    EventsStream.incrementalClustersSink(
      spark.readStream.schema(docs.schema).parquet(src),
      "text", "doc_id", state, ckp, maxHamming = 2).awaitTermination()
    assert(standing() == batchCC(docs))
    // at-least-once: re-delivering batch 2's docs is a no-op fixpoint
    EventsStream.foldBatchIntoClusters(b2, "text", "doc_id", state,
      maxHamming = 2)
    assert(standing() == batchCC(docs))
    // and a half-completed temp swap recovers on the next fold
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(s"$state/clusters"),
      new org.apache.hadoop.fs.Path(s"$state/clusters_tmp"))
    EventsStream.foldBatchIntoClusters(b2, "text", "doc_id", state,
      maxHamming = 2)
    assert(standing() == batchCC(docs))
  }

  test("incremental clusters sink (Wide120 pinned): standing state == batch wide CC; replay fixpoint") {
    val docs = graft.sources.Tables(spark, sf("sf0.01"), "documents")
    val b1 = docs.filter(col("doc_id") % 3 =!= 0)
    val b2 = docs.filter(col("doc_id") % 3 === 0)
    val base = Files.createTempDirectory("incclusters_wide")
    val src = s"$base/src"; val state = s"$base/state"; val ckp = s"$base/ckp"
    val wide = graft.dedup.NearDupFamily.Wide120
    def standing() = spark.read.parquet(s"$state/clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    def batchWideCC(d: org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.connectedComponentsDistributed(
        graft.dedup.Dedup.simHashWideNearDups(d, "text", "doc_id",
          maxHamming = 2), "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).sortBy(_._1).toSeq
    b1.write.parquet(src)
    EventsStream.incrementalClustersSink(
      spark.readStream.schema(docs.schema).parquet(src),
      "text", "doc_id", state, ckp, maxHamming = 2,
      family = wide).awaitTermination()
    assert(standing() == batchWideCC(b1))
    // fps state carries BOTH halves — the wide fold needs sh_hi
    assert(spark.read.parquet(s"$state/fps").columns.toSet ==
      Set("doc_id", "sh_lo", "sh_hi"))
    b2.write.mode("append").parquet(src)
    EventsStream.incrementalClustersSink(
      spark.readStream.schema(docs.schema).parquet(src),
      "text", "doc_id", state, ckp, maxHamming = 2,
      family = wide).awaitTermination()
    assert(standing() == batchWideCC(docs))
    // at-least-once: re-delivering batch 2 under the same family is a
    // no-op fixpoint
    EventsStream.foldBatchIntoClusters(b2, "text", "doc_id", state,
      maxHamming = 2, family = wide)
    assert(standing() == batchWideCC(docs))
  }

  test("wide streaming near-dup pairs == batch simHashWideNearDups") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val docs = Seq(
        (1L, base),
        (2L, base.replace("delta", "DELTA")), // lowercased away → exact dup
        (3L, "completely different words about another topic entirely here now"),
        (4L, base),                            // cross-batch dup
        (5L, base.replace("kappa", "xappa")))  // near (one token changed)
      val mem = MemoryStream[(Long, String)]
      val pairs = EventsStream.nearDupWideStream(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id", maxHamming = 3)
      val q = pairs.writeStream.format("memory").queryName("neardup_wide_stream")
        .outputMode("update").start()
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("neardup_wide_stream")
        .select("id_a", "id_b", "hamming").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batch = graft.dedup.Dedup.simHashWideNearDups(
        docs.toDF("doc_id", "text"), "text", "doc_id", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // exact dups must land at wide hamming 0 through state
      assert(batch.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0),
        "cross-batch wide dup expected")
    }
  }

  test("streaming near-dup: bucket cap stops state growth, verify still runs") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      // identical docs: every one lands in the same 4 blocks; with
      // maxBucket=2 only the first 2 entries per block are retained, so
      // doc k>2 pairs only with docs 1 and 2, never with 3..k-1
      val mem = MemoryStream[(Long, String)]
      val pairs = EventsStream.nearDupStream(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
        maxHamming = 0, maxBucket = 2)
      val q = pairs.writeStream.format("memory").queryName("neardup_capped")
        .outputMode("update").start()
      mem.addData((1 to 5).map(i => (i.toLong, "same text every time")): _*)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("neardup_capped")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for (k <- 2 to 5; s <- 1 to math.min(2, k - 1)) yield
        (s.toLong, k.toLong)).toSet
      assert(got == want, s"got=$got want=$want")
    }
  }

  test("streaming drift monitor: running drift == batch replay; shifted source drifts more") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      import EventsStream.{SrcDrift, SrcTok}
      val cells = 64
      // offline half: the reference cell histogram, built with the SAME
      // expression the stream prep uses
      val refDocs = Seq((1L, "ref", "common common common hot"))
        .toDF("doc_id", "source", "text")
      val ref = new Array[Long](cells)
      EventsStream.srcTokenCells(refDocs, "text", "source", cells)
        .groupBy("cell").count().collect()
        .foreach(r => ref(r.getInt(0)) = r.getLong(1))
      // online half: one source matching the reference mix, one shifted
      val mem = MemoryStream[(String, String)]
      val toks = EventsStream.srcTokenCells(
        mem.toDF().toDF("source", "text"), "text", "source", cells)
        .as[SrcTok]
      val q = EventsStream.driftMonitorStream(toks, ref, cells).writeStream
        .format("memory").queryName("drift_stream")
        .outputMode("update").start()
      mem.addData(("match", "common common common hot"),
        ("shift", "zulu xray yankee whiskey"))
      q.processAllAvailable()
      mem.addData(("match", "common common hot"), ("shift", "zulu zulu"))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("drift_stream").as[SrcDrift].collect()
        .groupBy(_.src).map { case (s, xs) => s -> xs.maxBy(_.n_tokens) }
      // exact batch replay over the full streamed corpus, same cells
      def replay(texts: Seq[String]): (Long, Long) = {
        val counts = new Array[Long](cells); var total = 0L
        for (t <- texts; tok <- t.split("\\s+")) {
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val h = java.lang.Long.parseLong(hex.take(15), 16)
          counts((h % cells).toInt) += 1L; total += 1L
        }
        val refTotal = ref.sum
        var drift = 0L
        for (i <- 0 until cells) {
          val pa = counts(i) * 1000000L / total
          val pb = ref(i) * 1000000L / refTotal
          drift += (pa - pb) * (pa - pb) / (pa + pb + 1)
        }
        (total, drift)
      }
      val (tm, dm) = replay(Seq("common common common hot", "common common hot"))
      val (ts, ds) = replay(Seq("zulu xray yankee whiskey", "zulu zulu"))
      assert(last("match") == SrcDrift("match", tm, dm), last.toString)
      assert(last("shift") == SrcDrift("shift", ts, ds), last.toString)
      assert(ds > dm) // the distribution-shifted source drifts more
      // EVERY emission matches its replay, not just the final one — a
      // processor that emitted stale pre-update state in batch 1 but a
      // correct cumulative value in batch 2 must not pass
      val all = spark.table("drift_stream").as[SrcDrift].collect().toSet
      val (tm1, dm1) = replay(Seq("common common common hot"))
      val (ts1, ds1) = replay(Seq("zulu xray yankee whiskey"))
      assert(all.contains(SrcDrift("match", tm1, dm1)), all.toString)
      assert(all.contains(SrcDrift("shift", ts1, ds1)), all.toString)
      assert(all.size == 4) // two sources × two batches, nothing else
    }
  }

  test("streaming CMS: running estimates accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      import EventsStream.{TokenOcc, TokenEst}
      val depth = 4; val width = 1024
      val mem = MemoryStream[TokenOcc]
      val est = EventsStream.streamingHeavyHitters(mem.toDS(), depth, width)
      val q = est.writeStream.format("memory").queryName("cms_stream")
        .outputMode("update").start()
      def occ(h: Long) = TokenOcc((h % 2).toInt, h)
      mem.addData(occ(10), occ(10), occ(10), occ(11), occ(20))
      q.processAllAvailable()
      mem.addData(occ(10), occ(10), occ(21))
      q.processAllAvailable()
      q.stop()
      // reference estimate from the same hash family over the fed counts
      val params = graft.functions.MinHashAgg.affineParams(depth)
      def ref(counts: Map[Long, Long], h: Long): Long =
        (0 until depth).map { i =>
          val (a, b) = params(i)
          val bkt = (graft.functions.MinHashAgg.affinePerm(a, b, h) % width).toInt
          counts.collect { case (k, n)
            if (graft.functions.MinHashAgg.affinePerm(a, b, k) % width).toInt == bkt
              && (k % 2) == (h % 2) => n }.sum
        }.min
      val out = spark.table("cms_stream").as[TokenEst].collect()
      // batch-1 emission for h=10 sees 3; batch-2 emission sees the
      // RUNNING 5 (state carried across batches)
      val h10 = out.filter(_.h == 10L).map(_.est).sorted
      assert(h10.toSeq == Seq(
        ref(Map(10L -> 3L, 11L -> 1L, 20L -> 1L), 10L),
        ref(Map(10L -> 5L, 11L -> 1L, 20L -> 1L, 21L -> 1L), 10L)))
      assert(out.filter(_.h == 21L).map(_.est).toSeq ==
        Seq(ref(Map(10L -> 5L, 11L -> 1L, 20L -> 1L, 21L -> 1L), 21L)))
    }
  }

  test("transformWithState running user stats across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val mem = MemoryStream[Event]
      val stats = EventsStream.runningUserStats(mem.toDS())
      val q = stats.writeStream.format("memory").queryName("user_stats")
        .outputMode("update").start()
      // values are binary fractions → double sums are exact in any order
      mem.addData(
        ev(1, "2024-01-01 00:00:00", 1, v = 1.5),
        ev(2, "2024-01-01 00:01:00", 1, v = 2.25),
        ev(3, "2024-01-01 00:02:00", 2, v = 4.0))
      q.processAllAvailable()
      mem.addData(ev(4, "2024-01-01 00:03:00", 1, v = 0.25))
      q.processAllAvailable()
      q.stop()
      // update-mode memory sink keeps every emitted row: user 1 appears
      // once per batch with RUNNING totals, user 2 once
      val out = spark.table("user_stats")
        .select("user_id", "n_events", "total_value", "last_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val u1 = out.filter(_._1 == 1L).sortBy(_._2)
      assert(u1.toSeq == Seq((1L, 2L, 3.75, 2L), (1L, 3L, 4.0, 4L)))
      assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 4.0, 3L)))
    }
  }

  test("streaming near-dup: null / non-numeric ids drop instead of wedging the query") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val mem = MemoryStream[(java.lang.Long, String)]
      val pairs = EventsStream.nearDupStream(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id", maxHamming = 0)
      val q = pairs.writeStream.format("memory").queryName("neardup_nulls")
        .outputMode("update").start()
      mem.addData(
        (java.lang.Long.valueOf(1L), "same text here"),
        (null.asInstanceOf[java.lang.Long], "same text here"), // poison row
        (java.lang.Long.valueOf(2L), "same text here"))
      q.processAllAvailable() // must not throw on the null id
      q.stop()
      val got = spark.table("neardup_nulls").select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L)))
    }
  }

  test("streaming ANN probe == batch IvfIndex.search over the same index") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      // 16 vectors in 4 well-separated clusters (dim 4, exactly
      // representable floats) so nlist=4 trains clean cells
      val corpus = (0 until 16).map { i =>
        val cl = i % 4
        val base = Array.fill(4)(0.0f)
        base(cl) = 4.0f
        base((cl + 1) % 4) = 0.25f * (i / 4) // within-cluster spread
        (i.toLong, base)
      }
      val corpusDf = corpus.toDF("id", "vec")
      val model = graft.sim.IvfIndex.build(corpusDf, "id", "vec", nlist = 4)
      // queries are a corpus subset (exercises the self-exclusion) split
      // across two batches, with q2 RE-DELIVERED in batch 2 — the
      // at-least-once path must re-emit the identical top-k, not grow it
      val queries = Seq(2L, 5L, 11L).map(i => corpus(i.toInt))
      val mem = MemoryStream[(Long, Array[Float])]
      val out = EventsStream.annProbeStream(
        mem.toDF().toDF("id", "vec"), model, "id", "vec", k = 3, nprobe = 2)
      val q = out.writeStream.format("memory").queryName("ann_probe_stream")
        .outputMode("update").start()
      mem.addData(queries.take(2): _*)
      q.processAllAvailable()
      mem.addData(queries.drop(2) :+ queries.head: _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("ann_probe_stream").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = graft.sim.IvfIndex.search(model,
          queries.toDF("id", "vec"), "id", "vec", k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      // same probe ordering, same cosine arithmetic, same (cos desc, id
      // asc) ranking → the stream's running top-k IS the batch result,
      // bit-identical; the re-delivered query adds no extra rows
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.map(_._1) == Set(2L, 5L, 11L))
    }
  }

  test("streaming pack == batch packSequences under monotone delivery; redelivery packs nothing twice") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val docs = Tables(spark, sf("sf0.01"), "documents")
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      val (batch1, batch2) = docs.splitAt(docs.length / 2)
      val mem = MemoryStream[(Long, String)]
      val out = EventsStream.packStream(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
        maxTokens = 512, nBuckets = 8)
      val q = out.writeStream.format("memory").queryName("pack_stream")
        .outputMode("update").start()
      mem.addData(batch1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(batch2.toIndexedSeq: _*)
      q.processAllAvailable()
      // batch 3 RE-DELIVERS all of batch 2 (at-least-once): lastId must
      // drop every row — the standing pack may not move
      mem.addData(batch2.toIndexedSeq: _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("pack_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getInt(3), r.getLong(4))).toSeq.sortBy(_._1)
      // each document placed exactly once (dups would break the sort-set compare)
      assert(streamed.map(_._1).distinct.length == streamed.length)
      val batch = graft.text.TextAnalysis.packSequences(
          Tables(spark, sf("sf0.01"), "documents"), "text", "doc_id",
          maxTokens = 512, nBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getInt(3), r.getLong(4))).toSeq.sortBy(_._1)
      // monotone ids across batches → the streamed fold IS the batch
      // pack, boundaries included
      assert(streamed == batch)
    }
  }

  test("streaming IVF∘SQ8 probe == batch searchIvfSq including fixed-point distances") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      // the ann-probe fixture: 4 well-separated clusters so nlist=4
      // trains clean cells — the compressed serve must agree with the
      // float one's probe geometry, just rank by SQ distance
      val corpus = (0 until 16).map { i =>
        val cl = i % 4
        val base = Array.fill(4)(0.0f)
        base(cl) = 4.0f
        base((cl + 1) % 4) = 0.25f * (i / 4)
        (i.toLong, base)
      }
      val corpusDf = corpus.toDF("id", "vec")
      val ivf = graft.sim.IvfIndex.build(corpusDf, "id", "vec", nlist = 4)
      val m = graft.sim.SqIndex.train(corpusDf, "id", "vec")
      val queries = Seq(2L, 5L, 11L).map(i => corpus(i.toInt))
      val mem = MemoryStream[(Long, Array[Float])]
      val out = EventsStream.sqProbeStream(
        mem.toDF().toDF("id", "vec"), ivf, m, "id", "vec", k = 3, nprobe = 2)
      val q = out.writeStream.format("memory").queryName("sq_probe_stream")
        .outputMode("update").start()
      mem.addData(queries.take(2): _*)
      q.processAllAvailable()
      // batch 2 re-delivers query 2 (at-least-once): deterministic long
      // distances dedup by neighbor — identical rows, no growth
      mem.addData(queries.drop(2) :+ queries.head: _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("sq_probe_stream").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val batch = graft.sim.SqIndex.searchIvfSq(ivf, m,
          queries.toDF("id", "vec"), "id", "vec", k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.map(_._1) == Set(2L, 5L, 11L))
    }
  }

  test("streaming multi-table LSH probe == batch lshTopKTables over the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      // spread vectors with both-sign components so 2-bit hyperplane
      // buckets are actually populated on both sides of each plane
      val corpus = (0 until 24).map { i =>
        val v = Array.tabulate(4)(j =>
          (((i * 7 + j * 3) % 11) - 5).toFloat / 4.0f)
        (i.toLong, v)
      }
      val corpusDf = corpus.toDF("id", "vec")
      val queries = Seq(3L, 9L, 17L).map(i => corpus(i.toInt))
      val mem = MemoryStream[(Long, Array[Float])]
      val out = EventsStream.lshProbeStream(
        mem.toDF().toDF("id", "vec"), corpusDf, "id", "vec",
        k = 3, dim = 4, bits = 2, tables = 2)
      val q = out.writeStream.format("memory").queryName("lsh_probe_stream")
        .outputMode("update").start()
      mem.addData(queries.take(1): _*)
      q.processAllAvailable()
      // batch 2 re-delivers query 3 (at-least-once): the merged running
      // top-k must re-emit the identical rows, not grow
      mem.addData(queries.drop(1) :+ queries.head: _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("lsh_probe_stream").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = graft.sim.Similarity.lshTopKTables(
          queries.toDF("id", "vec"), corpusDf, "id", "vec",
          k = 3, dim = 4, bits = 2, tables = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      // same band families, same cosine arithmetic, same (cos desc, id
      // asc) ranking; the cross-table candidate dedup happens in the
      // processor's per-neighbor merge → bit-identical to the batch form
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.map(_._1) == Set(3L, 9L, 17L))
    }
  }
}
