package graft.pipeline

import java.nio.file.{Path, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}
import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{ParquetMeta, Tables}

/** The 4-phase copy pipeline (SURVEY.md §3.1) — the reference's whole-job
  * semantics, Spark-native.
  *
  * Phase ordering is the reference's downtime-minimizing fleet order
  * (`CopyTool.java:202-299`): ALL tables extract, then ALL load, then ALL
  * publish, then GC — so a multi-table publish is consistent and the
  * publish window is as small as possible. Within a phase the tables run
  * concurrently. Parquet metadata is read on the driver
  * ([[graft.sources.ParquetMeta]]): resolving a source, the trigger's
  * poll when footer statistics can answer it, F1's check of a source
  * that is files, and F3's check of a staging run no Spark job, so a
  * NoNewData run runs none. Phase 2 of a
  * `ViewSwitch` or `TempSwap` table places the staged parquet files as
  * they are (the reference's `COPY INTO` loads the file it staged,
  * `CopyTool.java:756-870`), so it runs no Spark job either. Each source
  * table is resolved, and so listed, at most once per run: the trigger's
  * poll, the extract and the fingerprint read the same listing.
  *
  * Unlike the reference, which re-copies every table on each trigger, a
  * `ViewSwitch` or `TempSwap` table whose source files are unchanged since
  * its published snapshot is not extracted again. The probe step
  * fingerprints the files the table's DataFrame reads, from the listing
  * its resolution already made (no Spark job), and compares that with the
  * `_source_fingerprint` of the snapshot CURRENT names (or of TempSwap's
  * data dir). On a match the table skips its F1 probe, extract and F3
  * check: a `ViewSwitch` table's new version is the old snapshot's files,
  * hard-linked, and a `TempSwap` table keeps its data dir. Every copying
  * run still publishes a new, newest version of every versioned table. On
  * any doubt the table copies: no fingerprint stored, a source that is
  * not files, a non-deterministic plan, a file modified within
  * [[RacyWindowMs]] of the listing. Live-database targets always reload.
  *
  * Results mirror the reference's exit codes
  * (`CopyTool.java:66-68,95-106`): Copied=0, NoNewData=2, Failed=1.
  */
object CopyJob {

  /** What to extract (A1-A3): a named table, optional projection, or an
    * arbitrary SQL query over the registered tables. */
  final case class FromSpec(
      name: String,
      columns: Option[Seq[String]] = None,
      query: Option[String] = None)

  sealed trait PublishMode
  /** E1+E3: versioned snapshot + atomic pointer switch (default ON in the
    * reference: `useFastViewSwitching`, `CopyTable.java:54-63`). */
  case object ViewSwitch extends PublishMode
  /** E2: temp-dir swap into a stable data dir. */
  case object TempSwap extends PublishMode
  /** C3/C7 live-database load: truncate-and-batch-INSERT the staged data
    * into a JDBC table via the `graft-jdbc` DataSource V2 writer (each
    * Spark partition streams its own `batchsize`-row INSERT batches).
    * The load is the publish — the target table must already exist
    * (D3 DDL generation is the caller's step, as in the reference). */
  final case class JdbcLoad(url: String, batchSize: Int = 10000) extends PublishMode
  /** C1/C2/C4 live-MonetDB load via the reference's runtime cascade
    * (`CopyTool.java:829-866`): COPY-from-file (needs `copyDir`, a
    * server-readable shared mount) → COPY-from-STDIN (distributed, one
    * MAPI socket per partition, exact-count RECORDS hints) → `insert`,
    * the batched-INSERT load over JDBC. The load is the publish. */
  final case class MonetLoad(
      host: String, port: Int, user: String, password: String,
      database: String, schema: String,
      insert: JdbcLoad, copyDir: Option[String]) extends PublishMode

  final case class TableSpec(
      id: String,
      from: FromSpec,
      to: String,
      allowEmpty: Boolean = false,    // F1 default (CopyTable.java:69)
      autoTrim: Boolean = true,       // §1.3 default (CopyTable.java:72)
      publishMode: PublishMode = ViewSwitch,
      keepVersions: Int = 2)          // E5 default (CopyTool.java:578-580)

  final case class TriggerSpec(table: String, column: String)

  final case class JobConfig(
      tables: Seq[TableSpec],
      sourceDir: String,              // harness source (parquet star schema)
      stagingRoot: String,
      targetRoot: String,
      stateDir: String,
      trigger: Option[TriggerSpec] = None,
      switchOnly: Boolean = false,    // E6 --switch-only
      noSwitch: Boolean = false,      // E6 --no-switch
      /** resume from durable staging after a crash between phases 1 and 2
        * (the reference's staging-triplet recovery, SURVEY §3.1). */
      resumeFromStaging: Boolean = false) {
    /** Config identity for watermark-state scoping (G3). The run-mode
      * flags are not part of it: a `--resume` or `--switch-only` run
      * reads and writes the state of the job it belongs to. */
    def hash: String = Watermark.configHash(
      copy(switchOnly = false, noSwitch = false, resumeFromStaging = false).toString)
  }

  sealed trait JobResult { def exitCode: Int }
  case object Copied extends JobResult { val exitCode = 0 }
  case object NoNewData extends JobResult { val exitCode = 2 }
  final case class Failed(reason: String, cause: Option[Throwable] = None)
    extends JobResult { val exitCode = 1 }

  /** A per-table step that failed: its phase (probe/extract/load), the
    * table id and the original exception. */
  private final case class TableFailure(phase: String, id: String, cause: Throwable)
    extends Exception(s"$phase $id: ${cause.getMessage}", cause)

  /** The source tables of one copying run, each resolved at most once and
    * only when first asked for: listed once, its schema read from a footer
    * on the driver, no Spark job. Safe to share between the probe step's
    * threads. `seed` holds tables already resolved (the trigger's, whose
    * poll read that same listing). */
  private final class Sources(spark: SparkSession, dir: String, seed: Map[String, DataFrame]) {
    private final class Once(resolve: => DataFrame) { lazy val df: DataFrame = resolve }
    private val memo = new ConcurrentHashMap[String, Once]()
    seed.foreach { case (name, df) => memo.put(name, new Once(df)) }

    def table(name: String): DataFrame =
      memo.computeIfAbsent(name, n => new Once(Tables(spark, dir, n))).df

    /** A FromSpec as a DataFrame (the A1-A3 scan surface): a table, its
      * projection, or a query over views of every harness table. */
    def apply(from: FromSpec): DataFrame = from.query match {
      case Some(q) =>
        Tables.names.foreach(n => table(n).createOrReplaceTempView(n))
        spark.sql(q)
      case None =>
        val df = table(from.name)
        from.columns.map(cs => df.select(cs.map(df.col): _*)).getOrElse(df)
    }
  }

  /** Run one phase's per-table step over every table, concurrently up to
    * the cluster's default parallelism, and return the results in table
    * order. Every submitted table finishes before this returns, so a
    * failure never leaves a sibling still writing staging or targets;
    * then the first failure in table order is rethrown as a
    * [[TableFailure]]. The pool is made on each call, from the calling
    * thread: Spark's job group and other local properties reach its
    * threads only by inheritance at thread creation. Safe because
    * per-table work touches disjoint staging/target dirs and Spark
    * schedules concurrent jobs. */
  private def perTable[A, B](spark: SparkSession, phase: String, work: Seq[(TableSpec, A)])
      (f: (TableSpec, A) => B): Seq[B] = {
    def one(t: TableSpec, a: A): B =
      try f(t, a) catch { case NonFatal(e) => throw TableFailure(phase, t.id, e) }
    val par = math.min(work.size, spark.sparkContext.defaultParallelism)
    if (par <= 1) work.map { case (t, a) => one(t, a) }
    else {
      val pool = Executors.newFixedThreadPool(par)
      try {
        val futures = work.toVector.map { case (t, a) =>
          pool.submit(new Callable[B] { def call(): B = one(t, a) })
        }
        futures.map(fut => Try(fut.get())).map {
          case Success(b) => b
          case Failure(e: ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
      } finally pool.shutdown()
    }
  }

  /** C7 truncate + C3 distributed batched INSERT, in one overwrite. */
  private def jdbcLoad(staged: DataFrame, j: JdbcLoad, table: String): Unit =
    staged.write.format("graft-jdbc")
      .option("url", j.url).option("dbtable", table)
      .option("batchsize", j.batchSize.toString)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .save()

  /** C4 cascade against a live MonetDB, every rung replace-semantics:
    * [truncate + COPY-file] → [truncate + COPY-stdin] → INSERT.
    *
    * EACH COPY rung begins with its own C7 truncate (the reference
    * truncates the target before whichever load method runs,
    * `CopyTool.java:806-812`), not one shared preamble: a rung that
    * commits partial state and THEN fails (a LOCKED COPY dying
    * mid-statement bypasses the WAL and cannot roll back; a post-commit
    * cleanup error) must not leave those rows for the next rung to
    * append onto. The INSERT rung's Overwrite carries its own truncate
    * inside the write. So whichever rung ultimately succeeds, the table
    * holds exactly one copy of the staged data — a `copymethod=copyinto`
    * table re-loaded on a schedule replaces its contents exactly like
    * the default INSERT mode does. A rung whose truncate fails fails
    * AS that rung (no silent method downgrade) and the cascade moves
    * on; appending via COPY onto a table we failed to truncate is never
    * an option, and a genuinely absent table fails every rung loudly
    * (the target must pre-exist on this path — D3 DDL is the caller's
    * step).
    *
    * A Spark task retry in the stdin rung can never re-COPY a committed
    * partition; the rung fails instead and the INSERT rung replaces any
    * partial state — exactly-once end to end. A missing `copyDir` makes
    * the file attempt fail fast BEFORE its truncate (no shared mount ⇒
    * the server can't read our part files; no point emptying the table
    * for a rung that cannot run), exactly like the reference when its
    * temp CSV is unreachable (`CopyTool.java:823-826`). `records` is the
    * staged manifest count — the file COPY's exact-count RECORDS hint. */
  private def monetLoad(staged: DataFrame, m: MonetLoad, table: String,
      records: Long): Unit = {
    import graft.sinks.MonetSink
    def truncate(): Unit = MonetSink.truncateViaMapi(m.host, m.port, m.user,
      m.password, m.database, m.schema, table)
    MonetSink.loadWithCascade(
      copyFile = () => {
        val dir = m.copyDir.getOrElse(throw new IllegalStateException(
          "COPY INTO FROM file needs graft.monet.copydir (a server-readable shared mount)"))
        truncate()
        MonetSink.copyViaFiles(staged, m.host, m.port, m.user,
          m.password, m.database, m.schema, table, dir, records)
      },
      copyStdin = () => {
        truncate()
        MonetSink.copyViaStdinDistributed(staged, m.host,
          m.port, m.user, m.password, m.database, m.schema, table)
        ()
      },
      insert = () => jdbcLoad(staged, m.insert, table))
    ()
  }

  /** Git's racy-timestamp rule: a file whose mtime lies this close to (or
    * after) the listing may change again without changing its mtime, so
    * a listing that holds one cannot vouch for the data. */
  val RacyWindowMs = 2000L

  /** The fingerprint of what a file-target table's extract would write:
    * a format tag, the table's extract identity, and the sorted path,
    * length and mtime of every file under every leaf relation of `df`'s
    * analyzed plan (subqueries included), taken from the listing its
    * resolution made at or after `listedAfter`. None, so the table
    * copies, when a leaf is not a file relation, the plan is not
    * deterministic (`rand()`, `current_timestamp()`), or a file is racy. */
  private def fingerprint(t: TableSpec, df: DataFrame, listedAfter: Long): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.LeafNode
    import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
      PartitioningAwareFileIndex}
    val nodes = df.queryExecution.analyzed.collectWithSubqueries { case p => p }
    val listings = nodes.collect {
      case r: LogicalRelation => Some(r.relation).collect {
        case fs: HadoopFsRelation => fs.location
      }.collect { case idx: PartitioningAwareFileIndex => idx.allFiles() }
      case _: LeafNode => None
    }
    val volatile = nodes.exists(_.expressions.exists(e =>
      !e.deterministic || e.containsPattern(CURRENT_LIKE)))
    if (volatile || listings.contains(None)) None
    else {
      val files = listings.flatten.flatten
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).distinct.sorted
      if (files.exists(_._3 > listedAfter - RacyWindowMs)) None
      else Some((Seq("graft source fingerprint 1",
        s"from ${t.from.name}", s"columns ${t.from.columns.fold("*")(_.mkString(","))}",
        s"query ${t.from.query.getOrElse("")}",
        s"autoTrim ${t.autoTrim}", s"allowEmpty ${t.allowEmpty}") ++
        files.map { case (path, len, mtime) => s"$path\t$len\t$mtime" }).mkString("", "\n", "\n"))
    }
  }

  /** The published snapshot a file-target table's fingerprint is compared
    * with: the version CURRENT names, or a TempSwap table's data dir. */
  private def published(cfg: JobConfig, t: TableSpec): Option[Path] = t.publishMode match {
    case ViewSwitch => Publish.currentVersion(cfg.targetRoot, t.to)
      .map(v => Paths.get(Publish.snapshotDir(cfg.targetRoot, t.to, v)))
    case TempSwap => Some(Publish.swapDir(cfg.targetRoot, t.to))
    case _ => None
  }

  /** One table after the probe step: its source, the fingerprint of that
    * source, the published snapshot it reuses, and whether F1 found it
    * empty. */
  private final case class Probed(df: DataFrame, fingerprint: Option[String],
      reuse: Option[Path], empty: Boolean)

  private def stagingDir(cfg: JobConfig, t: TableSpec): String =
    Paths.get(cfg.stagingRoot, s"table_${t.from.name}_${t.to}").toString

  private def statePath(cfg: JobConfig) =
    Paths.get(cfg.stateDir, s"job-${cfg.hash.take(12)}_lastrun.txt")

  def run(spark: SparkSession, cfg: JobConfig): JobResult = {
    try {
      // every source this run resolves is listed after this instant
      val listedAfter = System.currentTimeMillis()
      // ---- trigger check (G1-G4): skip everything when certain no new data
      val polled: Option[((String, DataFrame), Option[Watermark.Value])] = cfg.trigger.map { tr =>
        val df = Tables(spark, cfg.sourceDir, tr.table)
        val v = Watermark.poll(df, tr.column)
        val stored = Watermark.readState(statePath(cfg))
        if (!Watermark.hasNewData(v, stored, cfg.hash)) return NoNewData
        (tr.table -> df, v)
      }

      val version = Publish.newVersion()

      // shared phase-2 body (normal and resume paths must never diverge):
      // a reused snapshot (Left) or F3-validated staging (Right), B4
      // zero-row short-circuit, then load per publish mode: the snapshot's
      // or staging's files, or a write of the data validate already read
      def loadOne(t: TableSpec, in: Either[Path, Staging.Staged]): Unit = in match {
        case Left(snapshot) => t.publishMode match {
          case ViewSwitch => Publish.writeSnapshot(snapshot, cfg.targetRoot, t.to, version)
          case TempSwap   => ()                                 // data/ is the snapshot
          case live => throw new IllegalStateException(
            s"staging records a reuse of $snapshot, but a ${live.getClass.getSimpleName} " +
              "target always reloads")
        }
        case Right(s) if s.manifest.count > 0 || t.allowEmpty => // B4 short-circuit
          t.publishMode match {
            case ViewSwitch => Publish.writeSnapshot(s.files, cfg.targetRoot, t.to, version)
            case TempSwap   => Publish.tempSwapPublish(s.files, cfg.targetRoot, t.to)
            case j: JdbcLoad => jdbcLoad(s.data, j, t.to)
            case ml: MonetLoad => monetLoad(s.data, ml, t.to, s.manifest.count)
          }
        case Right(_) => ()
      }
      def staged(dir: String): Either[Path, Staging.Staged] =
        Staging.reusedSnapshot(dir).toLeft(Staging.validate(spark, dir))   // F3

      if (cfg.resumeFromStaging) {
        // crash-between-phases resumption (§3.1): phase 1 already ran and
        // its durable staging survived — validate it (F3), once per
        // table, and continue from phase 2 without re-extracting; a table
        // phase 1 decided to reuse places the snapshot it recorded. The F1
        // guard's resume equivalent runs on the MANIFESTS (the sources
        // may have changed since the crash — staging is the truth being
        // resumed): without it, a zero-row staging for an allowEmpty=false
        // table would skip its snapshot while phase 3 still repoints
        // CURRENT at the never-written version dir, wedging every reader.
        val ins = perTable(spark, "probe", cfg.tables.map(t => t -> stagingDir(cfg, t))) {
          (_, dir) => staged(dir)
        }
        val empties = cfg.tables.zip(ins).collect {
          case (t, Right(s)) if !t.allowEmpty && s.manifest.count == 0 => t.id
        }
        if (empties.nonEmpty)
          return Failed(s"empty staged tables: ${empties.mkString(", ")}")
        perTable(spark, "load", cfg.tables.zip(ins))(loadOne)
      } else if (!cfg.switchOnly) {
        // ---- F1 empty-source guard: ALL tables checked before ANY copy.
        // Each source table is resolved once per run, the trigger's by its
        // poll, so its extract reads the file listing whose max becomes the
        // stored watermark. The extract reuses the probe's DataFrame. F1
        // reads footer row counts where the source is files, as the poll
        // reads their max. A table that reuses its published snapshot
        // passed F1 when that snapshot was made, from the same files.
        val sources = new Sources(spark, cfg.sourceDir, polled.map(_._1).toMap)
        val probed = perTable(spark, "probe", cfg.tables.map(t => t -> t.from)) { (t, from) =>
          val df = sources(from)
          val fp = t.publishMode match {
            case ViewSwitch | TempSwap => fingerprint(t, df, listedAfter)
            case _ => None                                  // a live database always reloads
          }
          val reuse = fp.flatMap(f => published(cfg, t).filter(Publish.readFingerprint(_).contains(f)))
          Probed(df, fp, reuse, reuse.isEmpty && !t.allowEmpty &&
            ParquetMeta.count(df).fold(df.isEmpty)(_ == 0))   // footers, else a limit-1 probe
        }
        val empties = cfg.tables.zip(probed).collect { case (t, p) if p.empty => t.id }
        if (empties.nonEmpty)
          return Failed(s"empty source tables: ${empties.mkString(", ")}")

        // ---- PHASE 1: extract ALL tables to durable staging, or record
        // the reuse there; a staged table's fingerprint travels with its
        // files into the snapshot
        perTable(spark, "extract", cfg.tables.zip(probed)) { (t, p) =>
          val dir = stagingDir(cfg, t)
          p.reuse match {
            case Some(snapshot) => Staging.recordReuse(dir, snapshot)
            case None =>
              Staging.stage(p.df, dir, t.autoTrim)
              p.fingerprint.foreach(Publish.writeFingerprint(Staging.files(dir), _))
          }
        }

        // ---- PHASE 2: load ALL tables (staging → snapshot or database)
        perTable(spark, "load", cfg.tables.map(t => t -> stagingDir(cfg, t))) { (t, dir) =>
          loadOne(t, staged(dir))
        }
      }

      // ---- PHASE 3: publish ALL tables (pointer/view switch)
      if (!cfg.noSwitch) {
        cfg.tables.foreach { t =>
          t.publishMode match {
            case ViewSwitch =>
              if (cfg.switchOnly) Publish.publishNewest(cfg.targetRoot, t.to) // E6
              else Publish.publishVersion(cfg.targetRoot, t.to, version)
            case TempSwap => () // already swapped in phase 2
            case _: JdbcLoad => () // the load is the publish
            case _: MonetLoad => () // the load is the publish
          }
        }
      }

      // ---- PHASE 4: retention GC
      cfg.tables.filter(_.publishMode == ViewSwitch).foreach { t =>
        Publish.gcOldVersions(cfg.targetRoot, t.to, t.keepVersions)
      }

      // ---- E7 staging cleanup + G3 state persist (only after full success)
      if (!cfg.switchOnly) cfg.tables.foreach(t => Staging.cleanup(stagingDir(cfg, t)))
      polled.flatMap(_._2).foreach { v =>
        Watermark.writeState(statePath(cfg), Watermark.State(v, cfg.hash))
      }
      Copied
    } catch {
      case f: TableFailure => Failed(f.getMessage, Some(f.cause))
      case e: Exception => Failed(e.getMessage, Some(e))
    }
  }

  /** H5 failure alerting: the engine-core hook — the reference's SMTP
    * mailer is one possible `alert` implementation (deliberately outside
    * the engine, SURVEY §2.H5). */
  def runWithAlert(spark: SparkSession, cfg: JobConfig)
      (alert: Failed => Unit): JobResult =
    run(spark, cfg) match {
      case f: Failed => alert(f); f
      case ok        => ok
    }

  /** H1 interval scheduler: run forever, stay alive on failure, sleep the
    * configured interval. Batch re-invocation — semantically identical to
    * the reference's loop (`CopyTool.java:122-160`). `maxRuns` bounds it
    * for tests. `firstRunCfg` lets the FIRST iteration differ — the
    * resume-then-continue restart: run 1 resumes from durable staging
    * (which it then cleans), every later run extracts normally; a
    * resume flag that persisted across iterations would fail forever
    * once run 1 consumed the staging. */
  def runScheduled(spark: SparkSession, cfg: JobConfig, intervalSeconds: Long,
      maxRuns: Int = Int.MaxValue, onResult: JobResult => Unit = _ => (),
      firstRunCfg: Option[JobConfig] = None): Unit = {
    var runs = 0
    while (runs < maxRuns) {
      val c = if (runs == 0) firstRunCfg.getOrElse(cfg) else cfg
      onResult(run(spark, c))
      runs += 1
      if (runs < maxRuns) Thread.sleep(intervalSeconds * 1000)
    }
  }
}
