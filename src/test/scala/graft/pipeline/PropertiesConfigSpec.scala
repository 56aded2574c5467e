package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SqlGen

class PropertiesConfigSpec extends AnyFunSuite {

  // shaped like the reference's config.properties.example (F2 fixture)
  private val canonical =
    """# canonical job config
      |monetdb.user = monetdb
      |monetdb.password = ENV:TARGET_PASSWORD:fallbackpw
      |monetdb.server = localhost
      |monetdb.database = my_target
      |
      |mssql.db1.user = dbuser
      |mssql.db1.password = dbpassword
      |mssql.db1.server = dbserver
      |mssql.db1.database = my_db
      |
      |table.example.source = db1
      |table.example.from = example_table
      |table.example.to = example_table_new
      |table.example.schema = sys
      |table.example.create = true
      |table.example.truncate = true
      |table.example.copyViaTempTable = true
      |table.example.tempTablePrefix = tmp_
      |table.example.useFastViewSwitching = false
      |
      |batch.size = 10000
      |scheduler.interval = every 5 minutes
      |trigger.source = db1
      |trigger.table = updated
      |trigger.column = last_updatetime
      |""".stripMargin

  test("canonical config parses: sources, target, table, trigger, scheduler") {
    val p = PropertiesConfig.parseOrFail(canonical, env = Map.empty)
    assert(p.sources.keySet == Set("db1"))
    assert(p.sources("db1").dialect == SqlGen.MsSql)
    assert(p.sources("db1").server == "dbserver")
    assert(p.target.exists(_.database == "my_target"))
    assert(p.target.exists(_.password == "fallbackpw")) // env default applied
    val t = p.tables("example")
    assert(t.from.contains("example_table") && t.to == "example_table_new")
    assert(!t.useFastViewSwitching)
    assert(p.trigger.exists(tr => tr.table == "updated" && tr.column == "last_updatetime"))
    assert(p.schedulerIntervalSeconds.contains(300L))
    assert(p.batchSize == 10000)
    assert(p.warnings.isEmpty)
  }

  test("env substitution reads the environment when set") {
    val p = PropertiesConfig.parse(canonical, env = Map("TARGET_PASSWORD" -> "secret"))
    assert(p.target.exists(_.password == "secret"))
  }

  test("invalid tables dropped with reasons; zero tables is an error (F2)") {
    val bad =
      """mssql.db1.server = s
        |mssql.db1.database = d
        |table.a.to = out_only
        |table.b.from.query = SELECT 1
        |table.b.to = x
        |table.c.from = t
        |table.c.source = missing_src
        |""".stripMargin
    val p = PropertiesConfig.parse(bad, env = Map.empty)
    assert(p.tables.isEmpty)
    assert(p.warnings.exists(_.contains("'a'")))          // no from
    assert(p.warnings.exists(_.contains("from.countquery"))) // query w/o count
    assert(p.warnings.exists(_.contains("unknown source")))
    intercept[IllegalArgumentException](PropertiesConfig.parseOrFail(bad, Map.empty))
  }

  test("query tables need a paired count query; valid when present") {
    val ok =
      """postgresql.src.server = s
        |postgresql.src.database = d
        |table.q.source = src
        |table.q.from.query = SELECT a, b FROM t WHERE x > 1
        |table.q.from.countquery = SELECT count(*) FROM t WHERE x > 1
        |table.q.to = q_out
        |""".stripMargin
    val p = PropertiesConfig.parseOrFail(ok, env = Map.empty)
    assert(p.sources("src").dialect == SqlGen.Postgres)
    val cfg = PropertiesConfig.jdbcConfig(p.sources("src"), p.tables("q"))
    assert(graft.sources.JdbcSource.options(cfg)("query") ==
      "SELECT a, b FROM t WHERE x > 1")
  }

  test("mssql.instance round-trips from properties file to the JDBC URL (A7)") {
    val p = PropertiesConfig.parseOrFail(
      """mssql.src.server = sqlhost
        |mssql.src.database = erp
        |mssql.src.instance = SQLEXPRESS
        |table.t.source = src
        |table.t.from = dbo.orders
        |""".stripMargin, env = Map.empty)
    assert(p.sources("src").instance.contains("SQLEXPRESS"))
    val cfg = PropertiesConfig.jdbcConfig(p.sources("src"), p.tables("t"))
    assert(graft.sources.JdbcSource.options(cfg)("url") ==
      "jdbc:sqlserver://sqlhost;instanceName=SQLEXPRESS;databaseName=erp")
    // default-id form (`mssql.instance`, CopyToolConfig.java:709)
    val pd = PropertiesConfig.parseOrFail(
      """mssql.server = sqlhost
        |mssql.database = erp
        |mssql.instance = NAMED1
        |mssql.port = 1444
        |table.t.from = dbo.orders
        |""".stripMargin, env = Map.empty)
    val cfgD = PropertiesConfig.jdbcConfig(
      pd.sources(PropertiesConfig.DefaultSourceId), pd.tables("t"))
    assert(graft.sources.JdbcSource.options(cfgD)("url") ==
      "jdbc:sqlserver://sqlhost:1444;instanceName=NAMED1;databaseName=erp")
  }

  test("postgresql source with 'instance' fails at parse, naming the key") {
    val e = intercept[IllegalArgumentException] {
      PropertiesConfig.parse(
        """postgresql.src.server = s
          |postgresql.src.database = d
          |postgresql.src.instance = nope
          |table.t.source = src
          |table.t.from = x
          |""".stripMargin, env = Map.empty)
    }
    assert(e.getMessage.contains("postgresql.src.instance"))
  }

  test("from.queryfile / from.countqueryfile read SQL text from disk (A4)") {
    val files = Map(
      "/cfg/q.sql" -> "SELECT a, b FROM t WHERE x > 1",
      "/cfg/count.sql" -> "SELECT count(*) FROM t WHERE x > 1")
    val reader: String => Either[String, String] =
      p => files.get(p).toRight(s"query file '$p' does not exist")
    val p = PropertiesConfig.parseOrFail(
      """postgresql.src.server = s
        |postgresql.src.database = d
        |table.q.source = src
        |table.q.from.queryfile = /cfg/q.sql
        |table.q.from.countqueryfile = /cfg/count.sql
        |table.q.to = q_out
        |""".stripMargin, env = Map.empty, readFile = reader)
    val t = p.tables("q")
    assert(t.fromQuery.contains("SELECT a, b FROM t WHERE x > 1"))
    assert(t.fromCountQuery.contains("SELECT count(*) FROM t WHERE x > 1"))
    assert(p.warnings.isEmpty)
  }

  test("missing query file logs a warning and drops the table (ref null-out)") {
    val reader: String => Either[String, String] =
      p => Left(s"query file '$p' does not exist")
    val p = PropertiesConfig.parse(
      """mssql.server = s
        |mssql.database = d
        |table.q.from.queryfile = /missing.sql
        |table.q.from.countquery = SELECT 1
        |table.q.to = q_out
        |""".stripMargin, env = Map.empty, readFile = reader)
    assert(p.tables.isEmpty)
    assert(p.warnings.exists(w => w.contains("from.queryfile") && w.contains("/missing.sql")))
    // table then fails ordinary validation, same as the reference's null query
    assert(p.warnings.exists(_.contains("neither from nor from.query")))
  }

  test("inline from.query wins over from.queryfile; from.table aliases from") {
    val reader: String => Either[String, String] = _ => Right("FROM FILE")
    val p = PropertiesConfig.parse(
      """mssql.server = s
        |mssql.database = d
        |table.q.from.query = INLINE
        |table.q.from.queryfile = /f.sql
        |table.q.from.countquery = SELECT 1
        |table.q.to = q_out
        |table.t2.from.table = aliased
        |""".stripMargin, env = Map.empty, readFile = reader)
    assert(p.tables("q").fromQuery.contains("INLINE"))
    assert(p.tables("t2").from.contains("aliased") && p.tables("t2").to == "aliased")
  }

  test("readQueryFile real-filesystem behaviors: missing, directory, ok") {
    assert(PropertiesConfig.readQueryFile("/no/such/file.sql").isLeft)
    val dir = java.nio.file.Files.createTempDirectory("graftqf")
    assert(PropertiesConfig.readQueryFile(dir.toString).swap.exists(_.contains("directory")))
    val f = dir.resolve("q.sql")
    java.nio.file.Files.write(f, "SELECT 42".getBytes("UTF-8"))
    assert(PropertiesConfig.readQueryFile(f.toString) == Right("SELECT 42"))
  }

  test("default source id for bare mssql.* keys") {
    val p = PropertiesConfig.parse(
      """mssql.server = s
        |mssql.database = d
        |table.t.from = x
        |table.t.to = y
        |""".stripMargin, env = Map.empty)
    assert(p.sources.contains(PropertiesConfig.DefaultSourceId))
    assert(p.tables("t").source == PropertiesConfig.DefaultSourceId)
  }

  test("monetdb target block maps to the graft-jdbc load mode") {
    val p = PropertiesConfig.parseOrFail(canonical, env = Map.empty)
    val props = PropertiesConfig.parseProperties(canonical, env = Map.empty)
    val mode = PropertiesConfig.jdbcLoadMode(p, props)
    assert(mode.contains(
      CopyJob.JdbcLoad("jdbc:monetdb://localhost:50000/my_target", 10000)))
    assert(PropertiesConfig.jdbcLoadMode(p.copy(target = None), props).isEmpty)
    // the one parsed batch.size is the INSERT writer's batch size
    val p7 = PropertiesConfig.parseOrFail(canonical.replace(
      "batch.size = 10000", "batch.size = 7"), env = Map.empty)
    assert(PropertiesConfig.jdbcLoadMode(p7, props).map(_.batchSize).contains(7))
  }

  test("malformed batch.size and port values fail the parse, naming the key") {
    def parseError(line: String): String = intercept[IllegalArgumentException] {
      PropertiesConfig.parse(canonical + line + "\n", env = Map.empty)
    }.getMessage
    for (v <- Seq("ten", "0", "-5", "1.5"))
      assert(parseError(s"batch.size = $v").startsWith("'batch.size' must be"), v)
    for (v <- Seq("fifty", "0"))
      assert(parseError(s"monetdb.port = $v").startsWith("'monetdb.port' must be"), v)
    assert(parseError("mssql.db1.port = 14x3").startsWith("'mssql.db1.port' must be"))
    assert(parseError("mssql.server = s\nmssql.database = d\nmssql.port = x")
      .startsWith("'mssql.port' must be"))
    assert(parseError("postgresql.pg.server = s\npostgresql.pg.database = d\n" +
      "postgresql.pg.port = 5432.0").startsWith("'postgresql.pg.port' must be"))
    // well-formed values still parse
    val ok = PropertiesConfig.parse(canonical +
      "monetdb.port = 50001\nmssql.db1.port = 1444\n", env = Map.empty)
    assert(ok.target.flatMap(_.port).contains(50001))
    assert(ok.sources("db1").port.contains(1444))
  }
}
