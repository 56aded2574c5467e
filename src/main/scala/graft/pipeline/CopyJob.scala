package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors,
  ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.trees.TreePattern.{CURRENT_LIKE, PLAN_EXPRESSION}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.graft.GraftBridge
import graft.pipeline.Publish.{Segment, SourceFile, SourceRecord}
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
  * poll, the extract and the source record read the same listing.
  *
  * Unlike the reference, which re-copies every table on each trigger, a
  * copying run extracts only the source files that changed. Each snapshot,
  * and each kept live-target staging, holds a [[Publish.SourceRecord]]:
  * the extract's identity, the schema of the relations it reads, and its
  * segments, each the part files of one staged write with the source files
  * (path, length, mtime) that write read. The probe step lists the files
  * the table's DataFrame reads, from the listing its resolution already
  * made (no Spark job), and compares them with the record of the snapshot
  * CURRENT names (TempSwap's data dir, a live target's kept staging):
  *  - every recorded file still listed and unchanged, none new: no F1
  *    probe, extract or F3 check; the new version is the old part files,
  *    hard-linked (TempSwap keeps its data dir; a live target reloads its
  *    kept staging, F3-checked);
  *  - the same but with new files, for a `ViewSwitch` or `TempSwap` table
  *    whose plan is deterministic projections and filters over one
  *    parquet relation and whose record has fewer than [[MaxSegments]]
  *    segments: only the new files are extracted, by the same plan over an
  *    index of those files, and the new version is the old part files
  *    plus the delta's, one segment more;
  *  - otherwise (no record, a missing or changed file, a changed identity
  *    or schema, another plan, too many segments): a whole extract, one
  *    segment; a source that is not files, or a non-deterministic plan,
  *    keeps no record.
  * A file whose mtime lies within [[RacyWindowMs]] of the listing (git's
  * racy-clean rule) is trusted by its content: its CRC32C is taken in the
  * probe and again after the extract, and recorded only when both agree;
  * a later run reuses it only if a fresh CRC agrees too, and records it
  * as settled once its mtime lies outside the window. Every copying run
  * still publishes a new, newest version of every versioned table and
  * reloads every live-database target.
  *
  * Every Spark job a copying run starts carries its phase and table id in
  * the local properties [[PhaseTag]] and [[TableTag]].
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
        from.columns.map(cs => df.select(cs.map(c => df.col(Staging.quoted(c))): _*)).getOrElse(df)
    }
  }

  /** The local properties that tag each Spark job of a copying run with
    * its phase (trigger, probe, extract, load, publish, gc, cleanup) and
    * the id of its table (the trigger's: the polled source table). */
  val PhaseTag = "graft.copy.phase"
  val TableTag = "graft.copy.table"

  /** Run `body` with the Spark jobs it starts tagged, then restore the
    * thread's tags. */
  private def tagged[T](spark: SparkSession, phase: String, table: String)(body: => T): T = {
    val sc = spark.sparkContext
    val before = Seq(PhaseTag, TableTag).map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty(PhaseTag, phase)
    sc.setLocalProperty(TableTag, table)
    try body finally before.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Run one phase's per-table step over every table, concurrently up to
    * the cluster's default parallelism, and return the results in table
    * order. Every submitted table finishes before this returns, so a
    * failure never leaves a sibling still writing staging or targets;
    * then the first failure in table order is rethrown as a
    * [[TableFailure]]. The pool is made on each call, from the calling
    * thread: Spark's job group and other local properties reach its
    * threads, named `graft-copy-<phase>-<n>`, only by inheritance at
    * thread creation. Safe because per-table work touches disjoint
    * staging/target dirs and Spark schedules concurrent jobs. */
  private def perTable[A, B](spark: SparkSession, phase: String, work: Seq[(TableSpec, A)])
      (f: (TableSpec, A) => B): Seq[B] = {
    def one(t: TableSpec, a: A): B =
      try tagged(spark, phase, t.id)(f(t, a))
      catch { case NonFatal(e) => throw TableFailure(phase, t.id, e) }
    val par = math.min(work.size, spark.sparkContext.defaultParallelism)
    if (par <= 1) work.map { case (t, a) => one(t, a) }
    else {
      val n = new AtomicInteger()
      val threads: ThreadFactory = r => new Thread(r, s"graft-copy-$phase-${n.incrementAndGet()}")
      val pool = Executors.newFixedThreadPool(par, threads)
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
    * the listing cannot vouch for its content; its CRC32C must. */
  val RacyWindowMs = 2000L

  /** The most segments an append-built snapshot has; a table whose record
    * has this many copies whole, into one segment. */
  val MaxSegments = 32

  /** The source files a DataFrame's analyzed plan reads (every leaf
    * relation, subqueries included), from the listing its resolution
    * made, sorted by path; each relation's schema, in plan order; and the
    * relation of a plan that an extract of new files can append to. */
  private final case class Listing(files: Seq[FileStatus], schemas: Seq[String],
      appendable: Option[LogicalRelation])

  /** The [[Listing]] of `df`; None, so the table is copied whole and keeps
    * no record, when a leaf is not a file relation or the plan is not
    * deterministic (`rand()`, `current_timestamp()`). */
  private def listing(df: DataFrame): Option[Listing] = {
    val plan = df.queryExecution.analyzed
    val nodes = plan.collectWithSubqueries { case p => p }
    val relations = nodes.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.isInstanceOf[PartitioningAwareFileIndex] => Some(fs)
      case _: LeafNode => None
    }
    val volatile = nodes.exists(_.expressions.exists(e =>
      !e.deterministic || e.containsPattern(CURRENT_LIKE)))
    if (volatile || relations.contains(None)) None
    else {
      val fss = relations.flatten
      val files = fss.flatMap(_.location.asInstanceOf[PartitioningAwareFileIndex].allFiles())
        .groupBy(_.getPath.toString).values.map(_.head).toSeq.sortBy(_.getPath.toString)
      Some(Listing(files, fss.map(_.schema.json), appendable(plan)))
    }
  }

  /** The relation of a plan that is only projections and filters, none
    * with a subquery, over one non-partitioned, non-bucketed parquet
    * relation: such a plan maps each file's rows on their own, so its
    * output over files A and B is its output over A plus its output
    * over B. */
  private def appendable(plan: LogicalPlan): Option[LogicalRelation] = plan match {
    case p @ (_: Project | _: Filter) if !p.expressions.exists(_.containsPattern(PLAN_EXPRESSION)) =>
      appendable(p.children.head)
    case r: LogicalRelation => ParquetMeta.relation(r).map(_ => r)
    case _ => None
  }

  /** `df` over only `files`: its analyzed plan with the file index of
    * `rel` swapped for one over those files, its output attributes kept. */
  private def over(df: DataFrame, rel: LogicalRelation, files: Seq[FileStatus]): DataFrame = {
    val fs = rel.relation.asInstanceOf[HadoopFsRelation]
    val index = new InMemoryFileIndex(fs.sparkSession, files.map(_.getPath), fs.options, None)
    val only = rel.copy(relation = fs.copy(location = index)(fs.sparkSession))
    GraftBridge.ofRows(df.sparkSession,
      df.queryExecution.analyzed.transform { case r if r eq rel => only })
  }

  /** The CRC32C of a file's content. */
  private def crc32c(spark: SparkSession, path: String): Long = {
    val p = new HPath(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try {
      val crc = new java.util.zip.CRC32C
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { crc.update(buf, 0, n); n = in.read(buf) }
      crc.getValue
    } finally in.close()
  }

  private def fileTarget(t: TableSpec): Boolean =
    t.publishMode == ViewSwitch || t.publishMode == TempSwap

  /** Where the record of a table's published data lives: the snapshot
    * CURRENT names, a TempSwap table's data dir, or a live target's kept
    * staging when that holds an extract. */
  private def published(cfg: JobConfig, t: TableSpec): Option[Path] = t.publishMode match {
    case ViewSwitch => Publish.currentVersion(cfg.targetRoot, t.to)
      .map(v => Paths.get(Publish.snapshotDir(cfg.targetRoot, t.to, v)))
    case TempSwap => Some(Publish.swapDir(cfg.targetRoot, t.to))
    case _ => Some(stagingDir(cfg, t)).filter(d =>
      Staging.readManifest(d).isDefined && Staging.reusedSnapshot(d).isEmpty).map(Paths.get(_))
  }

  /** One table after the probe step: what phase 1 extracts (the whole
    * source, the files it gained, or nothing), the published part files
    * (with their checksum files) the new version keeps, the snapshot they
    * are all of when nothing is extracted, the table's record so far (the
    * kept segments; None when it keeps none), the source files the
    * extract reads, a racy one with the CRC32C taken before the extract,
    * and whether F1 found the source empty. */
  private final case class Probed(extract: Option[DataFrame], kept: Seq[Path],
      base: Option[Path], record: Option[SourceRecord], read: Seq[SourceFile], empty: Boolean)

  /** Compare a table's source with the record of its published data and
    * decide what phase 1 does: the three cases of this object's doc. */
  private def probe(spark: SparkSession, cfg: JobConfig, t: TableSpec, df: DataFrame,
      listedAfter: Long): Probed = {
    def racy(f: FileStatus) = f.getModificationTime > listedAfter - RacyWindowMs
    def source(f: FileStatus) = SourceFile(f.getPath.toString, f.getLen, f.getModificationTime,
      if (racy(f)) Some(crc32c(spark, f.getPath.toString)) else None)
    def whole(record: Option[SourceRecord], files: Seq[FileStatus]) =
      Probed(Some(df), Nil, None, record, files.map(source),
        !t.allowEmpty && ParquetMeta.count(df).fold(df.isEmpty)(_ == 0))   // footers, else a limit-1 probe
    listing(df).fold(whole(None, Nil)) { l =>
      val head = SourceRecord(t.from, t.autoTrim, t.allowEmpty, l.schemas, Nil)
      val listed = l.files.map(f => f.getPath.toString -> f).toMap
      def unchanged(s: SourceFile) = listed.get(s.path).exists(f =>
        f.getLen == s.length && f.getModificationTime == s.mtime)
      // an unchanged file recorded as racy is kept only if a fresh CRC
      // agrees; it is recorded as settled once it is not racy
      def verified(s: SourceFile): Option[SourceFile] = {
        val f = listed(s.path)
        if (s.crc.fold(!racy(f))(_ == crc32c(spark, s.path)))
          Some(s.copy(crc = s.crc.filter(_ => racy(f))))
        else None
      }
      val reused = for {
        dir <- published(cfg, t)
        prior <- Publish.readRecord(dir)
        if prior.copy(segments = Nil) == head && prior.files.forall(unchanged)
        recorded = prior.files.map(_.path).toSet
        fresh = l.files.filterNot(f => recorded(f.getPath.toString))
        appendTo = l.appendable.filter(_ => fileTarget(t) && prior.segments.size < MaxSegments)
        if fresh.isEmpty || appendTo.isDefined
        parts = if (fileTarget(t)) prior.segments.flatMap(_.parts).map(dir.resolve) else Nil
        if parts.forall(Files.isRegularFile(_))
        segments = prior.segments.map(seg => seg.sources.map(verified))
        if segments.forall(_.forall(_.isDefined))
      } yield Probed(appendTo.filter(_ => fresh.nonEmpty).map(over(df, _, fresh)),
        parts.flatMap(p => Seq(p, p.resolveSibling(s".${p.getFileName}.crc")))
          .filter(Files.isRegularFile(_)),
        Some(dir).filter(_ => fileTarget(t)),
        Some(head.copy(segments = prior.segments.zip(segments).map { case (seg, ss) =>
          seg.copy(sources = ss.flatten) })),
        fresh.map(source), empty = false)
      reused.getOrElse(whole(Some(head), l.files))
    }
  }

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
        tagged(spark, "trigger", tr.table) {
          val df = Tables(spark, cfg.sourceDir, tr.table)
          val v = Watermark.poll(df, tr.column)
          val stored = Watermark.readState(statePath(cfg))
          if (!Watermark.hasNewData(v, stored, cfg.hash)) return NoNewData
          (tr.table -> df, v)
        }
      }

      val version = Publish.newVersion()

      // shared phase-2 body (normal and resume paths must never diverge):
      // the B4 zero-row short-circuit, then load per publish mode: place
      // the staging's files (its extract, the part files it reuses, its
      // record), or reload a live target from the data validate read
      def loadOne(t: TableSpec, dir: String, in: Staging.Prepared): Unit = {
        def reload: Staging.Staged = in.staged.filter(_ => in.reused.isEmpty).getOrElse(
          throw new IllegalStateException(s"staging records a reuse of ${in.snapshot.orNull}, " +
            s"but a ${t.publishMode.getClass.getSimpleName} target always reloads"))
        val load = !in.empty || t.allowEmpty
        t.publishMode match {
          case ViewSwitch => if (load) Publish.writeSnapshot(in.files, cfg.targetRoot, t.to, version)
          case TempSwap =>
            val data = Publish.swapDir(cfg.targetRoot, t.to)
            if (in.staged.isDefined) { if (load) Publish.tempSwapPublish(in.files, cfg.targetRoot, t.to) }
            else Publish.readRecord(Paths.get(dir))      // data/ is the snapshot; renew its record
              .filterNot(r => Publish.readRecord(data).contains(r)).foreach(Publish.writeRecord(data, _))
          case j: JdbcLoad => val s = reload; if (load) jdbcLoad(s.data, j, t.to)
          case ml: MonetLoad => val s = reload; if (load) monetLoad(s.data, ml, t.to, s.manifest.count)
        }
      }

      if (cfg.resumeFromStaging) {
        // crash-between-phases resumption (§3.1): phase 1 already ran and
        // its durable staging survived — validate it (F3), once per
        // table, and continue from phase 2 without re-extracting; a table
        // places what phase 1 decided. The F1 guard's resume equivalent
        // runs on the MANIFESTS (the sources may have changed since the
        // crash — staging is the truth being resumed): without it, a
        // zero-row staging for an allowEmpty=false table would skip its
        // snapshot while phase 3 still repoints CURRENT at the
        // never-written version dir, wedging every reader.
        val ins = perTable(spark, "probe", cfg.tables.map(t => t -> stagingDir(cfg, t))) {
          (_, dir) => Staging.prepared(spark, dir)
        }
        val empties = cfg.tables.zip(ins).collect { case (t, in) if !t.allowEmpty && in.empty => t.id }
        if (empties.nonEmpty)
          return Failed(s"empty staged tables: ${empties.mkString(", ")}")
        perTable(spark, "load", cfg.tables.zip(ins))((t, in) => loadOne(t, stagingDir(cfg, t), in))
      } else if (!cfg.switchOnly) {
        // ---- F1 empty-source guard: ALL tables checked before ANY copy.
        // Each source table is resolved once per run, the trigger's by its
        // poll, so its extract reads the file listing whose max becomes the
        // stored watermark. The extract reuses the probe's DataFrame. F1
        // reads footer row counts where the source is files, as the poll
        // reads their max. A table that keeps its published files passed
        // F1 when they were made, from files it still reads.
        val sources = new Sources(spark, cfg.sourceDir, polled.map(_._1).toMap)
        val probed = perTable(spark, "probe", cfg.tables.map(t => t -> t.from)) { (t, from) =>
          probe(spark, cfg, t, sources(from), listedAfter)
        }
        val empties = cfg.tables.zip(probed).collect { case (t, p) if p.empty => t.id }
        if (empties.nonEmpty)
          return Failed(s"empty source tables: ${empties.mkString(", ")}")

        // ---- PHASE 1: extract ALL tables to durable staging, the whole
        // source or its new files, next to the part files the new version
        // keeps, or record a whole reuse there; then the table's record,
        // a racy file in it only if the extract read what the probe hashed
        perTable(spark, "extract", cfg.tables.zip(probed)) { (t, p) =>
          val dir = stagingDir(cfg, t)
          if (!fileTarget(t) && p.extract.isEmpty)    // a live target's kept staging
            p.record.filterNot(r => Publish.readRecord(Paths.get(dir)).contains(r))
              .foreach(Publish.writeRecord(Paths.get(dir), _))
          else {
            Staging.reset(dir)
            if (p.kept.nonEmpty) Staging.reuse(dir, p.kept)
            p.extract match {
              case Some(df) => Staging.stage(df, dir, t.autoTrim)
              case None => p.base.foreach(Staging.recordReuse(dir, _))
            }
            if (p.read.forall(s => s.crc.forall(_ == crc32c(spark, s.path))))
              p.record.foreach(r => Publish.writeRecord(Paths.get(dir), r.copy(segments =
                r.segments ++ p.extract.map(_ => Segment(Staging.parts(dir), p.read)))))
          }
        }

        // ---- PHASE 2: load ALL tables (staging → snapshot or database)
        perTable(spark, "load", cfg.tables.map(t => t -> stagingDir(cfg, t))) { (t, dir) =>
          loadOne(t, dir, Staging.prepared(spark, dir))
        }
      }

      // ---- PHASE 3: publish ALL tables (pointer/view switch)
      if (!cfg.noSwitch) {
        cfg.tables.foreach { t =>
          tagged(spark, "publish", t.id) {
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
      }

      // ---- PHASE 4: retention GC
      cfg.tables.filter(_.publishMode == ViewSwitch).foreach { t =>
        tagged(spark, "gc", t.id)(Publish.gcOldVersions(cfg.targetRoot, t.to, t.keepVersions))
      }

      // ---- E7 staging cleanup (a live target keeps its extract) + G3
      // state persist (only after full success)
      if (!cfg.switchOnly) cfg.tables.filter(fileTarget).foreach { t =>
        tagged(spark, "cleanup", t.id)(Staging.cleanup(stagingDir(cfg, t)))
      }
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
