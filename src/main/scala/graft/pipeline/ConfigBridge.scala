package graft.pipeline

/** `PropertiesConfig.Parsed` → `CopyJob.JobConfig` — the last mile
  * between the reference's properties front-end and the 4-phase
  * pipeline (`CopyToolConfig.java:359-447` builds its job model from
  * the same parse; SURVEY.md §2.F2/§3.1).
  *
  * The reference's connection blocks name live databases; the
  * Spark-native twin names data roots. Three `graft.*` keys carry
  * them (the only keys the reference file doesn't have):
  *
  *   - `graft.source.dir`  — parquet source root (the extract side);
  *   - `graft.target.dir`  — publish root (versioned snapshots + the
  *     `current` pointer — E1/E3);
  *   - `graft.staging.dir` / `graft.state.dir` — optional; default to
  *     `<target>/_staging` and `<target>/_state`.
  *
  * When the file has a `monetdb.*` block, tables publish to the live
  * database — per-table `copymethod = copyinto` drives the C4 COPY
  * cascade ([[CopyJob.MonetLoad]]); otherwise the distributed
  * `graft-jdbc` batched-INSERT writer (C3) — see
  * [[PropertiesConfig.publishModeFor]]. Without the block, tables
  * publish to the filesystem twin — fast view switch (E1+E3) or
  * temp-swap (E2) per `useFastViewSwitching`, the reference's
  * per-table flag (`CopyTable.java:54-63`). */
object ConfigBridge {

  final case class BridgeException(msg: String) extends Exception(msg)

  def toJobConfig(parsed: PropertiesConfig.Parsed, props: Map[String, String],
      noSwitch: Boolean = false, switchOnly: Boolean = false): CopyJob.JobConfig = {
    def req(k: String): String = props.getOrElse(k,
      throw BridgeException(s"missing required property '$k' " +
        "(the Spark-native data-root twin of the reference's connection block)"))
    val targetRoot = req("graft.target.dir")
    // the FS twin has exactly ONE source (the parquet root standing in
    // for the default source block); a table or trigger naming a
    // configured DBMS source would silently extract from the wrong
    // place if we proceeded — fail loudly instead (running such a
    // config needs the JDBC deployment, not the harness bridge)
    val foreign = parsed.tables.values
      .filter(_.source != PropertiesConfig.DefaultSourceId).map(_.id).toSeq.sorted
    if (foreign.nonEmpty)
      throw BridgeException(s"tables [${foreign.mkString(", ")}] name " +
        "non-default sources — per-table DBMS sources are not served by " +
        "the graft.source.dir bridge; point them at the default source " +
        "or run against the JDBC deployment")
    parsed.trigger.filter(_.source != PropertiesConfig.DefaultSourceId)
      .foreach(tr => throw BridgeException(
        s"trigger names non-default source '${tr.source}' — not served " +
          "by the graft.source.dir bridge"))
    val tables = parsed.tables.values.toSeq.sortBy(_.id).map { t =>
      CopyJob.TableSpec(
        id = t.id,
        from = CopyJob.FromSpec(
          t.from.getOrElse(""),
          t.fromColumns.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .filter(_.nonEmpty),
          t.fromQuery),
        to = t.to,
        allowEmpty = t.allowEmpty,
        autoTrim = t.autoTrim,
        // per-table: a monetdb.* block routes through the live-load
        // modes (cascade or INSERT per `copymethod`); without it,
        // tables publish to the filesystem twin
        publishMode = PropertiesConfig.publishModeFor(parsed, props, t).getOrElse(
          if (t.useFastViewSwitching) CopyJob.ViewSwitch else CopyJob.TempSwap))
    }
    CopyJob.JobConfig(
      tables = tables,
      sourceDir = req("graft.source.dir"),
      stagingRoot = props.getOrElse("graft.staging.dir", s"$targetRoot/_staging"),
      targetRoot = targetRoot,
      // `trigger.directory` is the reference's home for the
      // `<jobId>_lastrun.txt` watermark state (`CopyTool.java:322-323`)
      // — exactly this pipeline's stateDir, so honor it as the default
      stateDir = props.getOrElse("graft.state.dir",
        parsed.trigger.flatMap(_.directory)
          .getOrElse(s"$targetRoot/_state")),
      trigger = parsed.trigger.map(tr => CopyJob.TriggerSpec(tr.table, tr.column)),
      switchOnly = switchOnly,
      noSwitch = noSwitch)
  }
}
