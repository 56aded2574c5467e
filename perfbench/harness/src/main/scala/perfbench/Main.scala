package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM.
  *
  * {{{
  *   perfbench.Main --workload <copy_cycle|query_mix|oracle>
  *     --seed <n> --seconds <s> --trace <0|1> --cores <n>
  *     --corpus <sf0.1 dir> --corpus-sf1 <sf1 dir>
  *     --work <dir> --expect <name=value,...> --out <json>
  * }}}
  *
  * Writes the raw samples of the run as one JSON object to `--out`; the
  * launcher (`perfbench/run.py`) checks query outputs against the DuckDB
  * oracle and turns the samples into the reported metrics.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args("workload") == "oracle") {
      // the oracle SQL of the query subset and the copy job's SQL extract,
      // for the launcher
      val sqls = Map("oracle" -> QueryMix.oracleSql,
        "extract" -> Map(CopyCycle.QueryName -> CopyCycle.Query))
      Files.writeString(Paths.get(args("out")), Json.render(sqls))
      return
    }
    val run = new Run(
      workload = args("workload"), seed = args("seed").toLong,
      seconds = args("seconds").toDouble, traced = args("trace") == "1",
      cores = args("cores").toInt, corpus = args("corpus"),
      corpusSf1 = args("corpus-sf1"), work = args("work"),
      expect = args("expect").split(",").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("="); k -> v.toLong }.toMap)
    val out = try {
      run.workload match {
        case "copy_cycle" => CopyCycle.run(run)
        case "query_mix" => QueryMix.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      run.result
    } finally run.stop()
    Files.writeString(Paths.get(args("out")), Json.render(out))
  }
}

/** State shared by the workloads: the session, the tracer, the timers and
  * the tallies that become `attempted`, `failed` and the samples. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val cores: Int, val corpus: String, val corpusSf1: String,
    val work: String, val expect: Map[String, Long]) {

  private var session: SparkSession = _
  val trace: Option[Trace] = if (traced) Some(new Trace) else None
  val result = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  /** Every failed check, and the names of the operations that failed. */
  val failures = mutable.ArrayBuffer.empty[String]
  val failedOps = mutable.ArrayBuffer.empty[String]
  private var inAttempt = false
  private var opFailed = false
  private var attached = false
  /** Wall-clock window, in epoch milliseconds, of each timed operation. */
  val windows = mutable.Map.empty[String, (Long, Long)]

  def spark: SparkSession = session

  /** Start a fresh session with this harness's fixed configuration: the
    * settings `graft.Bench` runs the query suite with. Spark's scratch
    * space and warehouse stay under the run's work directory. */
  def startSession(): SparkSession = {
    stop()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    trace.foreach(attach)
    session
  }

  def attach(t: Trace): Unit = {
    session.sparkContext.addSparkListener(t)
    session.listenerManager.register(t)
    attached = true
  }

  def detach(t: Trace): Unit = {
    org.apache.spark.perfbench.Bus.drain(session.sparkContext)
    session.sparkContext.removeSparkListener(t)
    session.listenerManager.unregister(t)
    attached = false
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  /** Run `f` as one timed operation under job group `group`; returns its
    * value and its wall time in seconds. In a traced run the recorder also
    * samples this thread, and the listener bus is drained afterwards,
    * outside the timed region. */
  def timed[A](group: String)(f: => A): (A, Double) = {
    val sc = session.sparkContext
    val recorder = trace.filter(_ => attached)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    recorder.foreach(_.opStart())
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      windows(group) = (start, System.currentTimeMillis())
      recorder.foreach(_.opEnd(group))
      sc.clearJobGroup()
      if (traced) org.apache.spark.perfbench.Bus.drain(sc)
    }
  }

  /** Untimed, before every timed operation, as `graft.Bench` does between
    * queries: drop cached data, collect garbage and pause, so that the
    * context cleaner's asynchronous release of the previous operation's
    * broadcasts and checkpoints does not land inside the next timing. */
  def settle(): Unit = {
    session.catalog.clearCache()
    System.gc()
    Thread.sleep(150L)
  }

  /** Untimed bookkeeping work (inputs, checks) under its own job group. */
  def untimed[A](f: => A): A = {
    val sc = session.sparkContext
    sc.setJobGroup("perfbench-untimed", "untimed", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** Record one check: a false condition fails the running [[attempt]], or
    * outside one counts as a failed operation of its own. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    val msg = what
    failures += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
    if (inAttempt) opFailed = true
    else { attempted += 1; failedOps += msg }
  }

  /** Run one operation with its checks. It counts once in `attempted`, and
    * once in `failed` if it threw or any of its checks failed. */
  def attempt(name: String)(f: => Unit): Unit = {
    attempted += 1
    opFailed = false
    inAttempt = true
    try f catch { case NonFatal(e) => check(ok = false, s"$name threw $e") }
    finally inAttempt = false
    if (opFailed) failedOps += name
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Time `n` set-ups, each in a fresh session, and keep the median's
    * input: the last set-up's value is the one the run goes on with. */
  def setups[A](n: Int)(f: => A): A = {
    var last: Option[A] = None
    val times = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      startSession()
      last = Some(f)
      (System.nanoTime() - t0) / 1e9
    }
    result("setup_s") = times
    last.get
  }

  /** Tracing overhead on the workload's smallest operation: alternate the
    * operation with the recorder detached and attached, and compare the
    * medians. The recorder stays attached afterwards. */
  def overhead(t: Trace)(op: => Double): Double = {
    val on = mutable.ArrayBuffer.empty[Double]
    val off = mutable.ArrayBuffer.empty[Double]
    (1 to 5).foreach { _ =>
      detach(t); off += op
      attach(t); on += op
    }
    Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1
  }

  /** Log a phase boundary with the seconds since the JVM started. */
  def mark(what: String): Unit = {
    val t = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] $t%7.2f s  $what")
  }

  def finish(): Unit = {
    mark("done")
    result("attempted") = attempted
    result("failed") = failedOps.size
    result("failed_ops") = failedOps.toSeq
    result("failures") = failures.toSeq
    result("host") = Map(
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
  }
}

/** Minimal JSON writer for the run's raw output. */
object Json {
  def render(v: Any): String = v match {
    case s: String => graft.Verify.jsonEscape(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
