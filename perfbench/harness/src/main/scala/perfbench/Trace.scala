package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Passive recorder for the traced run. It listens to the Spark listener
  * bus and to finished query executions and never submits Spark work.
  *
  * Every job is keyed by the job group the benchmark set around the timed
  * operation, and by a call site. For a job that belongs to a SQL execution
  * the call site is the one captured when that execution started on the
  * calling thread: jobs that adaptive execution submits from its own
  * threads carry only a `CompletableFuture` frame of their own. Jobs
  * outside any SQL execution (parquet schema inference, for one) keep the
  * call site of their result stage. A [[DriverSampler]] measures, for each
  * timed operation, how long the thread that ran it was busy itself.
  */
final class Trace extends SparkListener with QueryExecutionListener {

  final class Job(val group: String, val site: String, val start: Long) {
    var end: Long = start
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    var outRecords = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val filesAccums = mutable.Set.empty[Long]
  private val execFiles = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  private def collectFileAccums(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files").foreach(m => filesAccums += m.accumulatorId)
    p.children.foreach(collectFileAccums)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val root = e.rootExecutionId.filter(_ != e.executionId)
        execSite(e.executionId) = root.flatMap(execSite.get).getOrElse(e.details)
        e.jobGroupId.orElse(root.flatMap(execGroup.get))
          .foreach(g => execGroup(e.executionId) = g)
        collectFileAccums(e.sparkPlanInfo)
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        collectFileAccums(e.sparkPlanInfo)
      case e: SparkListenerDriverAccumUpdates =>
        e.accumUpdates.foreach { case (id, v) =>
          if (filesAccums.contains(id)) execFiles(e.executionId) += v
        }
      case _ => ()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val ownSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site = execSite.getOrElse(execId, ownSite)
    jobs(e.jobId) = new Job(group, site, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.submissionTime.isDefined)
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  /** A finished execution's planning phases, keyed by when they began;
    * [[planMsBetween]] gives them to the operation whose window holds that
    * start. */
  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Jobs of one job group, in submission order. */
  def jobsOf(group: String): Seq[Job] = synchronized { jobs.values.filter(_.group == group).toSeq }

  /** Seconds of the window [fromMs, toMs] in which jobs of any other group,
    * or of none, ran: work inside a timed operation that its group does
    * not account for. */
  def foreignBusyS(group: String, fromMs: Long, toMs: Long): Double = synchronized {
    Agg.unionS(jobs.values.toSeq.collect {
      case j if j.group != group && j.end >= fromMs && j.start <= toMs =>
        (math.max(j.start, fromMs), math.min(math.max(j.start, j.end), toMs))
    })
  }

  private val sampler = new DriverSampler
  sampler.start()
  private val driverS = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Start measuring the calling thread's own work for an operation. */
  def opStart(): Unit = sampler.begin(Thread.currentThread())

  /** Stop measuring and book the runnable time under `group`. */
  def opEnd(group: String): Unit = {
    val s = sampler.end()
    synchronized(driverS(group) += s)
  }

  /** Seconds the thread that ran a group's operation was runnable: its
    * driver-side work, measured apart from the listener's job intervals. */
  def driverSOf(group: String): Double = synchronized(driverS(group))

  /** Files written by the SQL executions of one group, split by call site. */
  def filesOf(group: String): Seq[(String, Long)] = synchronized {
    execGroup.toSeq.collect { case (id, g) if g == group => (execSite.getOrElse(id, ""), execFiles(id)) }
  }

  /** Planning time (parsing, analysis, optimization, physical planning),
    * in milliseconds, of every finished query execution that began planning
    * within [fromMs, toMs]. */
  def planMsBetween(fromMs: Long, toMs: Long): Double = synchronized {
    plans.collect { case (start, ms) if start >= fromMs && start <= toMs => ms }.sum
  }
}

/** Sums over a set of traced jobs. `busyS` is the length of the union of
  * their [start, end] intervals, so overlapping jobs count once. */
final case class Agg(jobs: Int = 0, stages: Int = 0, tasks: Long = 0, runS: Double = 0,
    cpuS: Double = 0, inBytes: Long = 0, inRecords: Long = 0, outBytes: Long = 0,
    outRecords: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, busyS: Double = 0) {
  def +(o: Agg): Agg = Agg(jobs + o.jobs, stages + o.stages, tasks + o.tasks, runS + o.runS,
    cpuS + o.cpuS, inBytes + o.inBytes, inRecords + o.inRecords, outBytes + o.outBytes,
    outRecords + o.outRecords, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill, busyS + o.busyS)
}

object Agg {
  /** Length in seconds of the union of [start, end] spans in milliseconds. */
  def unionS(spans: Seq[(Long, Long)]): Double = {
    var busy = 0L
    var open = Long.MinValue
    var close = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > close) { busy += close - open; open = s; close = e }
      else close = math.max(close, e)
    }
    if (spans.nonEmpty) busy += close - open
    busy / 1e3
  }

  def of(js: Seq[Trace#Job]): Agg = {
    val busy = unionS(js.map(j => (j.start, math.max(j.start, j.end))))
    Agg(js.size, js.map(_.stages).sum, js.map(_.tasks).sum, js.map(_.runMs).sum / 1e3,
      js.map(_.cpuNs).sum / 1e9, js.map(_.inBytes).sum, js.map(_.inRecords).sum,
      js.map(_.outBytes).sum, js.map(_.outRecords).sum, js.map(_.shuffleRead).sum, js.map(_.shuffleWrite).sum,
      js.map(_.spill).sum, busy)
  }
}

/** Samples one thread's state every millisecond between [[begin]] and
  * [[end]] and adds up the time it was runnable. A thread that waits for a
  * Spark job, a lock or a queue is not runnable; one that plans, lists or
  * renames files, commits output or writes state is. */
final class DriverSampler extends Thread("perfbench-driver-sampler") {
  setDaemon(true)
  private var target: Thread = _
  private var last = 0L
  private var runnableNs = 0L

  def begin(t: Thread): Unit = synchronized {
    target = t; last = System.nanoTime(); runnableNs = 0L
  }

  /** Stop sampling; the runnable seconds since [[begin]]. */
  def end(): Double = synchronized {
    sample()
    target = null
    runnableNs / 1e9
  }

  private def sample(): Unit = if (target != null) {
    val now = System.nanoTime()
    if (target.getState == Thread.State.RUNNABLE) runnableNs += now - last
    last = now
  }

  override def run(): Unit = while (true) {
    java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
    synchronized(sample())
  }
}
