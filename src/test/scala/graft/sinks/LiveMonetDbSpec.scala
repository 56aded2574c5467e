package graft.sinks

import graft.SparkSpec
import graft.pipeline.Publish

/** Opt-in e2e against a REAL MonetDB server (the one gap the loopback
  * fake cannot close: `FakeMonetServer` proves our framing matches what
  * WE think MAPI v9 is; only a live server proves a COPY is actually
  * acknowledged and the rows land).
  *
  * Run it the way the reference's `docker/docker-entrypoint.sh`
  * environment would:
  * {{{
  *   docker run -d -p 50000:50000 monetdb/monetdb
  *   GRAFT_MONET_HOST=127.0.0.1 GRAFT_MONET_PORT=50000 \
  *   GRAFT_MONET_USER=monetdb GRAFT_MONET_PASSWORD=monetdb \
  *   GRAFT_MONET_DB=monetdb sbt "testOnly graft.sinks.LiveMonetDbSpec"
  * }}}
  *
  * Without `GRAFT_MONET_HOST` — or with the server unreachable — every
  * test CANCELS with an explicit reason: visible in the report as
  * canceled, never mistakable for a green live run. (CI in this
  * sandbox has no docker; the skip is the documented default there.)
  */
class LiveMonetDbSpec extends SparkSpec {

  private val schema = "sys"
  private val view = "graft_e2e"

  private def liveConfig: Option[(String, Int, String, String, String)] =
    sys.env.get("GRAFT_MONET_HOST").map { host =>
      (host,
        sys.env.getOrElse("GRAFT_MONET_PORT", "50000").toInt,
        sys.env.getOrElse("GRAFT_MONET_USER", "monetdb"),
        sys.env.getOrElse("GRAFT_MONET_PASSWORD", "monetdb"),
        sys.env.getOrElse("GRAFT_MONET_DB", "monetdb"))
    }

  private def connectOrCancel(): (MapiClient, (String, Int, String, String, String)) = {
    val cfg = liveConfig.getOrElse(
      cancel("no live MonetDB: set GRAFT_MONET_HOST (see Scaladoc) to run this spec"))
    val (host, port, user, pass, db) = cfg
    val client =
      try MapiClient.connect(host, port, user, pass, db)
      catch {
        case e: Exception =>
          cancel(s"MonetDB at $host:$port unreachable: ${e.getMessage}")
      }
    (client, cfg)
  }

  /** Data rows of a MAPI tabular response: `[ v1,\tv2,\t... ]`. */
  private def dataRows(resp: String): Seq[Seq[String]] =
    resp.linesIterator.filter(_.startsWith("[")).map { l =>
      l.stripPrefix("[").stripSuffix("]").trim
        .split(",\\t").map(_.trim.stripSuffix(",")).toSeq
    }.toSeq

  private def count(client: MapiClient, table: String): Long =
    dataRows(client.query(s"SELECT count(*) FROM $schema.$table"))
      .head.head.toLong

  test("C2 COPY → D11 view switch → E4/E5 retention GC against the live server") {
    import spark.implicits._
    val (client, (host, port, user, pass, db)) = connectOrCancel()
    try {
      def exec(sql: String): Unit = { client.query(sql); () }
      def exists(name: String): Boolean =
        dataRows(client.query(MonetDdl.existsSql(schema, name))).nonEmpty
      def isTable(name: String): Boolean =
        dataRows(client.query(MonetDdl.isTableSql(schema, name)))
          .headOption.exists(_.head == "true")
      def switchView(version: String): Unit =
        MonetSink.dropAndRecreateView(
          exists = () => exists(view), isTable = () => isTable(view),
          dropTable = () => exec(MonetDdl.dropTableSql(schema, view)),
          dropView = () => exec(MonetDdl.dropViewSql(schema, view)),
          createView = () => exec(MonetDdl.createViewSql(schema, view,
            s"${view}_$version")))

      // start from a clean slate (earlier aborted runs)
      if (exists(view) && !isTable(view)) exec(MonetDdl.dropViewSql(schema, view))
      dataRows(client.query(MonetDdl.findVersionsSql(view)))
        .map(_.head.stripPrefix("\"").stripSuffix("\""))
        .foreach(t => exec(MonetDdl.dropTableSql(schema, t)))

      // three versioned loads; the collision guard keeps stamps distinct
      // even when the loop runs inside one second
      val versions = (1 to 3).map { n =>
        val v = Publish.newVersion()
        val t = s"${view}_$v"
        exec(s"""CREATE TABLE "$schema"."$t" (id BIGINT, name CLOB)""")
        val df = (0 until n * 2).map(i => (i.toLong, s"row$i")).toDF("id", "name")
        // the real acknowledgment the fake can't give: server-reported
        // affected rows from an exact-count RECORDS COPY
        assert(MonetSink.copyViaStdinDistributed(df.coalesce(1), host, port,
          user, pass, db, schema, t) == n * 2L)
        assert(count(client, t) == n * 2L, s"COPY into $t not acknowledged")
        switchView(v) // D11: repoint the stable view at this version
        assert(count(client, view) == n * 2L, "view does not resolve to newest load")
        v
      }

      // E4: newest-version discovery straight from the live catalog
      val found = dataRows(client.query(MonetDdl.findVersionsSql(view)))
        .map(_.head.stripPrefix("\"").stripSuffix("\""))
      assert(found.size == 3 && found.head == s"${view}_${versions.last}",
        s"catalog discovery returned $found")

      // E5: keep current + 1 backup, drop the rest
      found.drop(2).foreach(t => exec(MonetDdl.dropTableSql(schema, t)))
      val after = dataRows(client.query(MonetDdl.findVersionsSql(view)))
      assert(after.size == 2)
      assert(count(client, view) == 6, "GC must never break the published view")

      // C7 truncate via MAPI empties the backup version in place
      MonetSink.truncateViaMapi(host, port, user, pass, db,
        schema, s"${view}_${versions(1)}")
      assert(count(client, s"${view}_${versions(1)}") == 0)

      // cleanup
      exec(MonetDdl.dropViewSql(schema, view))
      after.map(_.head.stripPrefix("\"").stripSuffix("\""))
        .foreach(t => exec(MonetDdl.dropTableSql(schema, t)))
    } finally client.close()
  }

  test("distributed COPY FROM STDIN lands every partition's rows exactly once") {
    import spark.implicits._
    val (client, (host, port, user, pass, db)) = connectOrCancel()
    try {
      val t = "graft_e2e_dist"
      if (dataRows(client.query(MonetDdl.existsSql(schema, t))).nonEmpty)
        client.query(MonetDdl.dropTableSql(schema, t))
      client.query(s"""CREATE TABLE "$schema"."$t" (id BIGINT, name CLOB)""")
      val df = (0 until 1000).map(i => (i.toLong, s"row$i")).toDF("id", "name")
        .repartition(8)
      assert(MonetSink.copyViaStdinDistributed(df, host, port, user, pass, db,
        schema, t) == 1000)
      assert(count(client, t) == 1000)
      // distinct ids prove no partition double-committed
      assert(dataRows(client.query(
        s"SELECT count(DISTINCT id) FROM $schema.$t")).head.head.toLong == 1000)
      client.query(MonetDdl.dropTableSql(schema, t))
      ()
    } finally client.close()
  }
}
