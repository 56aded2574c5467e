package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.{DriverManager, Timestamp}
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.pipeline.{CopyJob, Publish, Watermark}
import graft.pipeline.CopyJob._
import graft.sources.Tables
import graft.types.TypeMap

/** `copy_cycle`: the copy job run the way the interval scheduler runs it.
  *
  * One `JobConfig` copies all ten corpus tables plus one SQL extract, with
  * a watermark trigger on `events.ts`. Each cycle appends a seeded `events`
  * delta above the current watermark, runs one copying `CopyJob.run`, then
  * [[Polls]] runs that must return `NoNewData`. The initial load before
  * the first cycle is checked but not timed. After it, each versioned
  * target gets an older version, a byte copy of the one just published, as
  * an earlier scheduler run would have left it: so every timed copy
  * publishes a version beyond `keepVersions` and its retention GC deletes a
  * real snapshot.
  */
object CopyCycle {

  val Versioned = Seq("lineitem", "orders", "events", "documents", "embeddings")
  val Swapped = "part"
  val Projected = "customer"
  val ProjectedCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal")
  val JdbcTables = Seq("region", "nation", "supplier")
  val QueryName = "nation_revenue"
  val Query: String =
    """SELECT c.c_nationkey, count(*) AS n_orders, sum(o.o_totalprice) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey""".stripMargin
  val Keep = 2
  val Polls = 5

  final case class Inputs(src: String, target: String, state: String, jdbcUrl: String,
      cfg: JobConfig)

  /** Source tables are copied from the read-only corpus; `events` becomes a
    * directory so deltas can land next to the original file. The JDBC
    * targets get DDL derived from the source schema. */
  def prepare(run: Run, k: Int): Inputs = {
    val root = Paths.get(run.work, s"copy$k")
    Files.createDirectories(root)
    val src = root.resolve("src")
    Files.createDirectories(src)
    Tables.names.foreach { t =>
      val from = Paths.get(run.corpus, s"$t.parquet")
      if (t == "events") {
        val dir = src.resolve("events.parquet")
        Files.createDirectories(dir)
        Files.copy(from, dir.resolve("part-00000-base.parquet"), StandardCopyOption.REPLACE_EXISTING)
      } else Files.copy(from, src.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val url = s"jdbc:derby:memory:perfbench_${run.seed}_$k;create=true"
    val conn = DriverManager.getConnection(url)
    try JdbcTables.foreach { t =>
      val st = conn.createStatement()
      try st.executeUpdate(derbyDdl(t, Tables(run.spark, src.toString, t).schema)) finally st.close()
    } finally conn.close()
    val specs =
      Versioned.map(t => TableSpec(t, FromSpec(t), t, keepVersions = Keep)) ++ Seq(
        TableSpec(Swapped, FromSpec(Swapped), Swapped, publishMode = TempSwap),
        TableSpec(Projected, FromSpec(Projected, columns = Some(ProjectedCols)),
          s"${Projected}_slim", keepVersions = Keep),
        TableSpec(QueryName, FromSpec(QueryName, query = Some(Query)), QueryName,
          keepVersions = Keep)) ++
        JdbcTables.map(t => TableSpec(t, FromSpec(t), t, publishMode = JdbcLoad(url)))
    val target = root.resolve("target").toString
    val state = root.resolve("state").toString
    Inputs(src.toString, target, state, url, JobConfig(
      tables = specs, sourceDir = src.toString,
      stagingRoot = root.resolve("staging").toString, targetRoot = target,
      stateDir = state, trigger = Some(TriggerSpec("events", "ts"))))
  }

  /** Derby DDL through the program's Spark → SQL type map. Derby has no
    * TINYINT and no unbounded VARCHAR, so those two are widened. */
  def derbyDdl(table: String, schema: StructType): String =
    schema.fields.map { f =>
      val t = TypeMap.sparkToMonetDdlType(f.dataType) match {
        case "clob" => "VARCHAR(4000)"
        case "tinyint" => "SMALLINT"
        case other => other.toUpperCase
      }
      s"${f.name} $t"
    }.mkString(s"CREATE TABLE $table (", ", ", ")")

  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Microseconds since the epoch as the wall-clock time `ts` holds. */
  def micros(us: Long): LocalDateTime =
    LocalDateTime.ofInstant(Instant.EPOCH.plusNanos(us * 1000L), ZoneOffset.UTC)

  /** Append one seeded `events` delta whose `ts` lies strictly above
    * `afterMicros`, in whole microseconds. Returns (rows, max ts). */
  def appendDelta(run: Run, src: String, cycle: Int, firstId: Long, afterMicros: Long,
      rnd: Random): (Int, Long) = {
    val n = 2000 + rnd.nextInt(2000)
    val types = Seq("click", "view", "purchase", "signup", "logout")
    var maxTs = afterMicros
    val rows = (0 until n).map { i =>
      val ts = afterMicros + 1 + rnd.nextLong(3600L * 1000000)
      maxTs = math.max(maxTs, ts)
      Row(firstId + i, micros(ts), rnd.nextInt(5000).toLong, types(rnd.nextInt(types.size)),
        rnd.nextDouble() * 100, s"""{"cycle":$cycle,"seq":$i}""")
    }
    val tmp = Paths.get(run.work, s"delta-$cycle")
    run.spark.createDataFrame(rows.asJava, EventsSchema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    Files.list(tmp).iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.move(p, Paths.get(src, "events.parquet", s"part-delta-$cycle.parquet")))
    (n, maxTs)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  private def derbyCount(url: String, table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Versioned targets, each with the source table its rows come from. */
  val VersionedTargets: Seq[(String, String)] = Versioned.map(t => t -> t) ++
    Seq(s"${Projected}_slim" -> Projected, QueryName -> QueryName)

  /** Every versioned target's versions, oldest first. */
  def versions(in: Inputs): Map[String, Seq[String]] =
    VersionedTargets.map { case (to, _) => to -> Publish.listVersions(in.target, to).sorted }.toMap

  /** Give every versioned target an older version: a byte copy of its
    * current snapshot under a stamp a day before it. */
  def plantOlderVersion(in: Inputs): Unit = VersionedTargets.foreach { case (to, _) =>
    val cur = Publish.currentVersion(in.target, to).get
    val older = Publish.versionStamp(LocalDateTime.parse(cur, StampFmt).minusDays(1))
    val from = Paths.get(Publish.snapshotDir(in.target, to, cur))
    val dst = Paths.get(Publish.snapshotDir(in.target, to, older))
    Files.walk(from).iterator.asScala.toSeq.foreach { p =>
      Files.copy(p, dst.resolve(from.relativize(p).toString))
    }
  }

  private val StampFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy_MM_dd_HH_mm_ss")

  /** Every output check after a copying run; `before` is [[versions]]
    * from just before it. */
  def checkPublished(run: Run, in: Inputs, expected: Map[String, Long], watermark: String,
      cycle: Int, before: Map[String, Seq[String]]): Unit = run.untimed {
    val spark = run.spark
    VersionedTargets.foreach { case (to, from) =>
      val cur = Publish.currentVersion(in.target, to)
      val versions = Publish.listVersions(in.target, to).sorted
      // retention keeps the newest Keep of the old versions and the new one
      val kept = (before(to) ++ cur).sorted.takeRight(Keep)
      run.check(cur.isDefined && !before(to).contains(cur.get) &&
        cur == Publish.findNewestVersion(in.target, to),
        s"cycle $cycle: $to CURRENT=$cur is not a new newest version of $versions")
      run.check(versions == kept,
        s"cycle $cycle: $to keeps versions $versions, expected $kept")
      val n = Publish.readCurrent(spark, in.target, to).count()
      run.check(n == expected(from), s"cycle $cycle: $to has $n rows, expected ${expected(from)}")
    }
    val swapped = spark.read.parquet(Paths.get(in.target, Swapped, "data").toString).count()
    run.check(swapped == expected(Swapped), s"cycle $cycle: $Swapped has $swapped rows")
    JdbcTables.foreach { t =>
      val n = derbyCount(in.jdbcUrl, t)
      run.check(n == expected(t), s"cycle $cycle: JDBC $t has $n rows, expected ${expected(t)}")
    }
    val states = Files.list(Paths.get(in.state)).iterator.asScala.toSeq
    val stored = states.flatMap(p => Watermark.readState(p)).map(_.value.render)
    run.check(stored == Seq(watermark),
      s"cycle $cycle: watermark state $stored, expected $watermark")
  }

  def run(run: Run): Unit = {
    val rnd = new Random(run.seed)
    var k = 0
    val in = run.setups(3) { k += 1; prepare(run, k) }
    val spark = run.spark
    run.mark("set-up")
    // expected row counts, base watermark and ids come from the launcher,
    // which reads them off the corpus with DuckDB
    val counts = mutable.Map.empty[String, Long] ++
      (Tables.names :+ QueryName).map(t => t -> run.expect(t))
    val sourceBytes0 = dirBytes(Paths.get(in.src))
    var afterMicros = run.expect("max_ts_us")
    var nextId = run.expect("max_event_id") + 1
    var watermark = Timestamp.valueOf(micros(afterMicros)).toString
    // the initial load, untimed: no watermark state exists yet, so the
    // trigger must copy; it also pays the JVM's class loading and code
    // generation, which the timed cycles then do not
    run.attempt("initial load") {
      val before = versions(in)
      val r = run.untimed(CopyJob.run(spark, in.cfg))
      run.check(r == Copied, s"initial load returned $r")
      checkPublished(run, in, counts.toMap, watermark, 0, before)
      plantOlderVersion(in)
    }
    run.mark("initial load")
    val copies = mutable.ArrayBuffer.empty[Double]
    val polls = mutable.ArrayBuffer.empty[Double]
    val cycleWalls = mutable.ArrayBuffer.empty[Double]
    val groups = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val gc0 = run.gcSeconds
    val t0 = System.nanoTime()
    var cycle = 0
    var lastCycleS = 0.0
    // whole cycles, at least one; another starts only if it should end
    // within the run length
    while (cycle == 0 || (System.nanoTime() - t0) / 1e9 + lastCycleS <= run.seconds) {
      val c0 = System.nanoTime()
      cycle += 1
      val (n, maxTs) = run.untimed(appendDelta(run, in.src, cycle, nextId, afterMicros, rnd))
      nextId += n
      afterMicros = maxTs
      counts("events") += n
      watermark = Timestamp.valueOf(micros(maxTs)).toString
      var wall = 0.0
      run.attempt(s"cycle $cycle copy") {
        val g = s"copy-$cycle"
        val before = versions(in)
        run.settle()
        val (r, dt) = run.timed(g)(CopyJob.run(spark, in.cfg))
        copies += dt; wall += dt; groups += ((g, dt, true))
        run.check(r == Copied, s"cycle $cycle: copy after a delta returned $r")
        checkPublished(run, in, counts.toMap, watermark, cycle, before)
      }
      (1 to Polls).foreach { p =>
        run.attempt(s"cycle $cycle poll $p") {
          val g = s"poll-$cycle-$p"
          run.settle()
          val (r, dt) = run.timed(g)(CopyJob.run(spark, in.cfg))
          polls += dt * 1e3; wall += dt; groups += ((g, dt, false))
          run.check(r == NoNewData, s"cycle $cycle: poll $p without a delta returned $r")
        }
      }
      cycleWalls += wall
      lastCycleS = (System.nanoTime() - c0) / 1e9
      run.mark(s"cycle $cycle")
    }
    val gcS = run.gcSeconds - gc0
    val sourceBytes = dirBytes(Paths.get(in.src))
    val targetBytes = dirBytes(Paths.get(in.target))

    run.result("ops_s") = copies.toSeq
    run.result("floor_ms") = polls.toSeq
    run.result("timed_wall_s") = cycleWalls.sum
    run.result("target_bytes_ratio") = targetBytes.toDouble / sourceBytes
    run.trace.foreach { t =>
      run.result("layers") = layers(run, t, groups.toSeq, cycle, gcS, counts.toMap,
        sourceBytes0, targetBytes.toDouble / sourceBytes) +
        ("trace.overhead_frac" -> run.overhead(t) {
          run.settle()
          val (r, dt) = run.timed("overhead")(CopyJob.run(spark, in.cfg))
          run.check(r == NoNewData, s"overhead poll without a delta returned $r")
          dt
        })
    }
    run.finish()
  }

  /** Module of the innermost program frame of a call site. */
  def layerOf(site: String): String =
    site.split("\n").iterator.map(_.trim).collectFirst(Function.unlift(frameLayer))
      .getOrElse("unattributed")

  private def frameLayer(f: String): Option[String] =
    if (f.startsWith("graft.sources.")) Some("sources")
    else if (f.startsWith("graft.pipeline.Watermark")) Some("pipeline.trigger")
    else if (f.startsWith("graft.pipeline.Staging$.stage")) Some("pipeline.extract")
    else if (f.startsWith("graft.pipeline.Staging") || f.startsWith("graft.pipeline.Publish"))
      Some("pipeline.load")
    else if (f.startsWith("graft.sinks.") || f.startsWith("graft.pipeline.CopyJob$.jdbcLoad"))
      Some("sinks.jdbc")
    else if (f.startsWith("graft.pipeline.CopyJob")) Some("pipeline.guard")
    else None

  val Layers = Seq("sources", "pipeline.trigger", "pipeline.guard", "pipeline.extract",
    "pipeline.load", "sinks.jdbc", "unattributed")

  /** Per-layer figures of the timed runs. The parts are measured apart:
    * each layer's Spark job time and the time of jobs from outside the
    * operation's group by the listener, the driver thread's own work by
    * its sampler. `trace.residual_frac` is how far their sum misses the
    * wall time. */
  private def layers(run: Run, t: Trace, groups: Seq[(String, Double, Boolean)], cycles: Int,
      gcS: Double, counts: Map[String, Long], sourceBytes: Long,
      targetRatio: Double): Map[String, Double] = {
    val per = mutable.Map.empty[String, Agg].withDefaultValue(Agg())
    val files = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var copyAgg = Agg()
    var driver = 0.0
    var foreign = 0.0
    groups.foreach { case (g, _, copying) =>
      val js = t.jobsOf(g)
      js.groupBy(j => layerOf(j.site)).foreach { case (l, ljs) => per(l) = per(l) + Agg.of(ljs) }
      t.filesOf(g).foreach { case (site, n) => files(layerOf(site)) += n }
      driver += t.driverSOf(g)
      val (from, to) = run.windows(g)
      foreign += t.foreignBusyS(g, from, to)
      if (copying) copyAgg = copyAgg + Agg.of(js)
    }
    val wall = groups.map(_._2).sum
    val copyCount = groups.count(_._3).max(1)
    val published = (Versioned ++ Seq(Swapped, Projected, QueryName) ++ JdbcTables)
      .map(counts).sum.toDouble
    val c = cycles.max(1).toDouble
    val unattributed = per("unattributed").busyS + foreign
    val attributed = Layers.filter(_ != "unattributed").map(per(_).busyS).sum + driver +
      unattributed
    val m = mutable.LinkedHashMap.empty[String, Double]
    Seq("sources", "pipeline.trigger", "pipeline.guard", "pipeline.extract", "pipeline.load")
      .foreach { l =>
        m(s"$l.jobs") = per(l).jobs / c
        m(s"$l.s") = per(l).busyS / c
      }
    m("pipeline.extract.rows_written") = per("pipeline.extract").outRecords / c
    m("pipeline.extract.bytes_written") = per("pipeline.extract").outBytes / c
    m("pipeline.extract.files_written") = files("pipeline.extract") / c
    m("pipeline.load.bytes_written") = per("pipeline.load").outBytes / c
    m("pipeline.load.files_written") = files("pipeline.load") / c
    m("sinks.jdbc.s") = per("sinks.jdbc").busyS / c
    m("sinks.jdbc.rows") = per("sinks.jdbc").inRecords / c
    m("pipeline.driver_s") = driver / c
    m("copy.read_amp") = copyAgg.inRecords / copyCount / published
    m("copy.write_amp") = copyAgg.outBytes.toDouble / copyCount / sourceBytes
    m("copy.tasks") = copyAgg.tasks.toDouble / copyCount
    m("copy.exec_cpu_s") = copyAgg.cpuS / copyCount
    m("copy.target_bytes_ratio") = targetRatio
    m("jvm.gc_s") = gcS / c
    m("unattributed_s") = unattributed / c
    m("trace.wall_s") = wall / c
    m("trace.residual_frac") = (attributed - wall) / wall
    m.toMap
  }
}
