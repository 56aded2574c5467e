package graft.sinks

import org.apache.spark.sql.DataFrame
import graft.types.Identifiers

/** MonetDB target support (SURVEY.md §2.C, §2.D).
  *
  * Two layers:
  *  1. [[MonetDdl]] — the catalog DDL strings (D1-D11) as pure,
  *     golden-testable generators;
  *  2. [[MonetSink]] — the C1/C2 `COPY INTO` bulk loads over MAPI
  *     (exact-count records hint, LOCKED mode, the reference's delimiter
  *     and NULL conventions), the C7 truncate and the C4 cascade policy.
  *     The C3 batched-INSERT rung is the `graft-jdbc` writer
  *     ([[JdbcBatchDataSource]]).
  *
  * No live MonetDB exists in the test container; the SQL/config surface
  * is unit-tested, execution happens in integration environments.
  */
object MonetDdl {
  private def q(s: String) = Identifiers.quote(s)

  /** D1 exists check (schema case-insensitive, `MonetDBUtil.java:26-63`). */
  def existsSql(schema: String, table: String): String =
    s"SELECT name FROM sys.tables WHERE name = '${Identifiers.normalize(table)}' " +
      s"AND schema_id IN (SELECT id FROM sys.schemas WHERE LOWER(name) = " +
      s"LOWER('${schema}'))"

  /** D2 table-vs-view: `query IS NULL` ⇒ table (`MonetDBUtil.java:65-88`). */
  def isTableSql(schema: String, table: String): String =
    s"SELECT (query IS NULL) AS is_table FROM sys.tables " +
      s"WHERE name = '${Identifiers.normalize(table)}' " +
      s"AND schema_id IN (SELECT id FROM sys.schemas WHERE LOWER(name) = " +
      s"LOWER('${schema}'))"

  /** D8 drop table / D9 drop view (`MonetDBUtil.java:112-127,396-430`). */
  def dropTableSql(schema: String, table: String): String =
    s"DROP TABLE ${q(schema)}.${q(table)}"
  def dropViewSql(schema: String, view: String): String =
    s"DROP VIEW ${q(schema)}.${q(view)}"

  /** D10 CTAS temp→final copy (`MonetDBUtil.java:136-157`). */
  def ctasSql(schema: String, from: String, to: String): String =
    s"CREATE TABLE ${q(schema)}.${q(to)} AS SELECT * FROM ${q(schema)}.${q(from)} WITH DATA"

  /** D11/E3 view repoint (`MonetDBUtil.java:442-529`). */
  def createViewSql(schema: String, view: String, versionedTable: String): String =
    s"CREATE VIEW ${q(schema)}.${q(view)} AS SELECT * FROM ${q(schema)}.${q(versionedTable)}"

  /** E4 newest-version discovery (`CopyTool.java:513-548`). */
  def findVersionsSql(table: String): String =
    s"SELECT name FROM sys.tables WHERE name LIKE " +
      s"'${Identifiers.normalize(table)}\\_20%\\_%' ORDER BY name DESC"
}

object MonetSink {

  sealed trait LoadMethod
  case object CopyIntoFromFile extends LoadMethod  // C1
  case object CopyIntoFromStdin extends LoadMethod // C2
  case object BatchedInsert extends LoadMethod     // C3

  /** One `COPY INTO` statement in the reference's staging contract
    * (`CopyTool.java:984-991,1053-1061`): exact-count records hint (lets
    * the server pre-allocate), comma/newline/doublequote delimiters, `\N`
    * NULLs, and `LOCKED` WAL bypass (C6, the reference's default, always
    * on here). */
  private def copySql(schema: String, table: String, records: Long, from: String): String =
    s"COPY $records RECORDS INTO ${Identifiers.quote(schema)}.${Identifiers.quote(table)} " +
      s"FROM $from USING DELIMITERS ',','\\n','\"' NULL AS '\\\\N' LOCKED"

  /** C2 `COPY INTO ... FROM STDIN`. */
  def copyIntoSql(schema: String, table: String, records: Long): String =
    copySql(schema, table, records, "STDIN")

  /** C1 multi-file `COPY INTO` (the distributed twin of the reference's
    * single-temp-CSV `COPY INTO ... FROM 'file'`): Spark writes one CSV
    * part per partition, and MonetDB's FROM clause takes the whole list
    * in one statement — one transaction, one RECORDS pre-allocation
    * hint, N files read server-side. */
  def copyIntoSqlFiles(schema: String, table: String, records: Long,
      files: Seq[String]): String = {
    require(files.nonEmpty, "COPY INTO FROM files: empty file list")
    copySql(schema, table, records, files.map(f => s"'$f'").mkString(", "))
  }

  /** C1 execution at cluster scale: CSV formatting AND file writes are
    * distributed (one part file per partition landed under
    * `dir/<schema>.<table>` — `dir` is a directory the MonetDB server
    * can read, a shared mount; the per-table subdirectory keeps
    * concurrent table loads from clobbering each other's files and the
    * Overwrite away from anything else on the mount), then ONE
    * `COPY INTO ... FROM 'part1','part2',...` runs over a single MAPI
    * connection with the exact-count RECORDS hint
    * (`CopyTool.java:984-991`). After a successful COPY the staged CSV
    * is deleted, like the reference's temp-file cleanup
    * (`CopyTool.java:698-704` temp handling). This is the reference's
    * fastest load path without its driver-side CSV bottleneck: the
    * driver never formats or moves a row, it only issues the final
    * statement. */
  def copyViaFiles(df: DataFrame, host: String, port: Int, user: String,
      password: String, database: String, schema: String, table: String,
      dir: String, records: Long): Unit = {
    val tableDir = new java.io.File(dir,
      s"${Identifiers.normalize(schema)}.${Identifiers.normalize(table)}")
    df.select(csvLine(df).as("line"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .text(tableDir.getPath)
    val listed = tableDir.listFiles()
    if (listed == null)
      throw new IllegalStateException(
        s"COPY INTO FROM file: '$tableDir' is not a readable local directory " +
          "on the driver — graft.monet.copydir must name a shared mount " +
          "visible to both the Spark driver and the MonetDB server")
    val files = listed
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(_.getAbsolutePath).sorted.toSeq
    val client = MapiClient.connect(host, port, user, password, database)
    try client.query(copyIntoSqlFiles(schema, table, records, files))
    finally client.close()
    tableDir.listFiles().foreach(_.delete())
    tableDir.delete()
    ()
  }

  /** C7 MonetDB-style truncate (`MonetDBUtil.java:93-107`). */
  def truncateSql(schema: String, table: String): String =
    s"DELETE FROM ${Identifiers.quote(schema)}.${Identifiers.quote(table)}"

  /** C7 truncate over the MAPI channel. The pipeline issues this
    * before each COPY rung of the C4 cascade so every rung — COPY-file,
    * COPY-stdin, INSERT — starts from the same empty table and shares
    * replace semantics (the reference truncates before any load method,
    * `CopyTool.java:806-812`). */
  def truncateViaMapi(host: String, port: Int, user: String,
      password: String, database: String, schema: String,
      table: String): Unit = {
    val client = MapiClient.connect(host, port, user, password, database)
    try client.query(truncateSql(schema, table))
    finally client.close()
    ()
  }

  /** One CSV record in the reference's staging dialect
    * (`CopyTool.java:692-728`): every non-null value double-quoted with
    * `\` and `"` backslash-escaped, nulls as bare `\N`, comma separator.
    * Built as a codegen'd Column so formatting runs distributed. */
  def csvLine(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val cells = df.schema.fields.map { f =>
      val s = col(f.name).cast("string")
      val escaped = regexp_replace(regexp_replace(s, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
      when(col(f.name).isNull, lit("\\N"))
        .otherwise(concat(lit("\""), escaped, lit("\"")))
    }
    concat(cells.toIndexedSeq.flatMap(c => Seq(lit(","), c)).drop(1): _*)
  }

  /** C2 execution at cluster scale: every partition opens its OWN MAPI
    * connection and streams its rows as an independent `COPY INTO ...
    * FROM STDIN`. The reference holds one socket because it is a
    * single-threaded process; on a cluster that would make the driver
    * the choke point for the whole corpus, so CSV formatting AND the
    * socket I/O stay on the executors and the driver never sees a row.
    * Per-partition COPYs commit independently — MonetDB serializes
    * concurrent LOCKED loads server-side, which bounds the win at
    * however fast the server ingests (same ceiling the reference hits),
    * but partitions overlap their format/transfer work instead of
    * queueing behind one pump. Returns the rows the server acknowledged.
    *
    * Each partition's COPY carries its own exact-count `n RECORDS`
    * pre-allocation hint (`CopyTool.java:984-985`), so a counting pass
    * runs first. Both passes read ONE persisted RDD of formatted lines —
    * the count pass materializes each partition and the stream pass
    * replays the pinned blocks, so a non-deterministic upstream
    * (sample(), rand()-derived filters) cannot make the hint understate
    * the stream and have the server silently stop reading early.
    * (Executor loss can still evict a pinned block and force
    * recomputation — the narrow residual window; an understated hint
    * there fails the COPY loudly rather than dropping data, since the
    * server replies before EOF.)
    *
    * A re-attempted task refuses to dial the server at all, so a
    * partition can never COPY twice: the load fails instead, and the C4
    * cascade's next rung (the truncate-and-overwrite INSERT) replaces
    * whatever partial state this one committed. Exactly-once without a
    * distributed transaction: never-duplicate here, replace-on-failure
    * there. */
  def copyViaStdinDistributed(df: DataFrame, host: String, port: Int,
      user: String, password: String, database: String, schema: String,
      table: String): Long = {
    val rdd = df.select(csvLine(df).as("line")).rdd.map(_.getString(0))
    // DISK_ONLY, serialized: the pinned copy exists for determinism
    // (both passes replay identical blocks), not for speed — the load
    // is server-ingest-bound anyway, and a memory-resident
    // deserialized-String copy of a whole staged table would evict
    // genuinely hot cache across the executor fleet
    rdd.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      // one (partitionId, count) pair per partition — bounded by the
      // partition count, not the data; materializes the pinned blocks
      // the stream pass below replays
      val counts = rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
        .collect().toMap
      val bc = df.sparkSession.sparkContext.broadcast(counts)
      rdd.mapPartitionsWithIndex { (i, it) =>
        if (!it.hasNext) Iterator.empty // empty partitions never dial, so
        else {                          // their retries are provably safe
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null && tc.attemptNumber() > 0)
            throw new IllegalStateException(
              "COPY INTO FROM STDIN partition re-attempt refused: the prior " +
                "attempt may have committed its COPY; retrying would " +
                "duplicate rows. Failing the rung so the cascade's " +
                "replace-semantics fallback reloads the table.")
          val client = MapiClient.connect(host, port, user, password, database)
          try Iterator(client.copyIntoStdin(copyIntoSql(schema, table, bc.value(i)), it))
          finally client.close()
        }
      }.fold(0L)(_ + _)
    } finally { rdd.unpersist(); () }
  }

  /** C4 runtime cascade (`CopyTool.java:829-866`): try COPY-from-file;
    * on failure fall through to COPY-from-STDIN; on failure fall through
    * to batched INSERTs; if everything failed, raise. Returns the method
    * that succeeded. The attempts are passed as thunks so the policy is
    * unit-testable without a live server. A `copymethod=insert` table
    * never reaches this cascade: it loads through the INSERT writer
    * directly. When every rung fails, the thrown exception names each
    * rung with its message, carries the first rung's exception as its
    * cause and the later ones as suppressed. */
  def loadWithCascade(copyFile: () => Unit, copyStdin: () => Unit,
      insert: () => Unit): LoadMethod = {
    @scala.annotation.tailrec
    def run(rungs: List[(LoadMethod, String, () => Unit)],
        failed: Vector[(String, Throwable)]): LoadMethod = rungs match {
      case (m, name, f) :: rest =>
        scala.util.Try(f()) match {
          case scala.util.Success(_) => m
          case scala.util.Failure(e) => run(rest, failed :+ (name -> e))
        }
      case Nil =>
        val err = new IllegalStateException("unable to load data: " +
          failed.map { case (name, e) => s"$name failed: ${e.getMessage}" }
            .mkString("; "), failed.head._2)
        failed.tail.foreach { case (_, e) => err.addSuppressed(e) }
        throw err
    }
    run(List((CopyIntoFromFile, "COPY INTO (file)", copyFile),
      (CopyIntoFromStdin, "COPY INTO (stdin)", copyStdin),
      (BatchedInsert, "batched INSERT", insert)), Vector.empty)
  }

  /** D11/E3 live-DB view switch with the reference's bounded drop retry
    * (`MonetDBUtil.java:460-497`): MonetDB has had a bug where a view
    * can exist multiple times under one name, so the drop runs in a
    * loop — at most `maxDropAttempts` (reference: 10) and only while
    * the name still exists — choosing DROP TABLE vs DROP VIEW per
    * iteration, warning from the second attempt on ("should not be
    * possible"); then the new view is created. A throwing drop
    * propagates (the reference rethrows its SQLException). Thunk-
    * injected like [[loadWithCascade]] so the policy is unit-testable
    * without a live server and reusable over JDBC/MAPI transports
    * (compose with [[MonetDdl.dropTableSql]]/[[MonetDdl.dropViewSql]]/
    * [[MonetDdl.createViewSql]] and a statement executor). Returns the
    * number of drop attempts made. */
  def dropAndRecreateView(
      exists: () => Boolean, isTable: () => Boolean,
      dropTable: () => Unit, dropView: () => Unit,
      createView: () => Unit,
      maxDropAttempts: Int = 10,
      warn: String => Unit = _ => ()): Int = {
    var i = 0
    while (i < maxDropAttempts && exists()) {
      if (i > 0)
        warn(s"name still exists despite previous DROP (attempt ${i + 1}) — " +
          "this should not be possible")
      if (isTable()) dropTable() else dropView()
      i += 1
    }
    createView()
    i
  }
}
