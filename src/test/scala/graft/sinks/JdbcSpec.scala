package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{JdbcSource, SqlGen}
import JdbcSource.{JdbcSourceConfig, Partitioning}

class JdbcSourceSpec extends AnyFunSuite {
  private val base = JdbcSourceConfig(SqlGen.MsSql, "srv", "db", "u", "p",
    fromName = "dbo.orders")

  test("dbtable option for plain table scans (A1)") {
    val o = JdbcSource.options(base)
    assert(o("url") == "jdbc:sqlserver://srv:1433;databaseName=db")
    assert(o("dbtable") == "dbo.orders")
    assert(o("fetchsize") == "10000")
    assert(!o.contains("query"))
  }

  test("projection becomes a generated query (A2)") {
    val o = JdbcSource.options(base.copy(fromColumns = Some("a, b")))
    assert(o("query") == "SELECT a, b FROM dbo.orders")
    assert(!o.contains("dbtable"))
  }

  test("arbitrary query wins (A3)") {
    val o = JdbcSource.options(base.copy(
      fromQuery = Some("SELECT x FROM t WHERE y > 1"),
      fromColumns = Some("ignored")))
    assert(o("query") == "SELECT x FROM t WHERE y > 1")
  }

  test("named instance reaches the reader URL (A7)") {
    val o = JdbcSource.options(base.copy(instance = Some("SQLEXPRESS")))
    assert(o("url") == "jdbc:sqlserver://srv;instanceName=SQLEXPRESS;databaseName=db")
  }

  test("partitioned read options (the 100 TB extract path)") {
    val o = JdbcSource.options(base.copy(
      partitioning = Some(Partitioning("o_orderkey", 0L, 1000000L, 64))))
    assert(o("partitionColumn") == "o_orderkey")
    assert(o("lowerBound") == "0" && o("upperBound") == "1000000")
    assert(o("numPartitions") == "64")
  }
}

class MonetDialectSpec extends AnyFunSuite {
  test("truncate is DELETE FROM (C7)") {
    assert(MonetSink.truncateSql("sys", "t") == "DELETE FROM \"sys\".\"t\"")
  }
}

class MonetDdlSpec extends AnyFunSuite {
  test("COPY INTO statement variants (C1/C2/C6)") {
    assert(MonetSink.copyIntoSqlFiles("sys", "Orders", 1234, Seq("/tmp/x.csv")) ==
      """COPY 1234 RECORDS INTO "sys"."orders" FROM '/tmp/x.csv' """ +
        """USING DELIMITERS ',','\n','"' NULL AS '\\N' LOCKED""")
    assert(MonetSink.copyIntoSql("sys", "t", 5) ==
      """COPY 5 RECORDS INTO "sys"."t" FROM STDIN USING DELIMITERS ',','\n','"' NULL AS '\\N' LOCKED""")
  }

  test("D11 view switch: bounded drop retry, table-vs-view choice, create after") {
    import MonetSink.dropAndRecreateView
    // normal case: one existing view → 1 drop, then create
    var log = Vector.empty[String]
    def rec(name: String): () => Unit = () => log :+= name
    var remaining = 1
    assert(dropAndRecreateView(
      exists = () => remaining > 0, isTable = () => false,
      dropTable = rec("dropTable"),
      dropView = () => { log :+= "dropView"; remaining -= 1 },
      createView = rec("create")) == 1)
    assert(log == Vector("dropView", "create"))

    // phantom duplicate views (the MonetDB bug): drops until gone, warns
    // from the second attempt on
    log = Vector.empty; remaining = 3
    var warns = 0
    assert(dropAndRecreateView(
      exists = () => remaining > 0, isTable = () => false,
      dropTable = rec("dropTable"),
      dropView = () => { log :+= "dropView"; remaining -= 1 },
      createView = rec("create"), warn = _ => warns += 1) == 3)
    assert(log == Vector("dropView", "dropView", "dropView", "create") && warns == 2)

    // never-vanishing name: capped at 10 attempts (MonetDBUtil.java:462)
    log = Vector.empty
    assert(dropAndRecreateView(
      exists = () => true, isTable = () => true,
      dropTable = rec("dropTable"), dropView = rec("dropView"),
      createView = rec("create")) == 10)
    assert(log.count(_ == "dropTable") == 10 && log.last == "create")

    // nothing to drop: straight to create
    log = Vector.empty
    assert(dropAndRecreateView(
      exists = () => false, isTable = () => fail("must not be consulted"),
      dropTable = rec("dropTable"), dropView = rec("dropView"),
      createView = rec("create")) == 0)
    assert(log == Vector("create"))

    // a throwing drop propagates (reference rethrows its SQLException)
    intercept[RuntimeException] {
      dropAndRecreateView(
        exists = () => true, isTable = () => false,
        dropTable = rec("dropTable"),
        dropView = () => throw new RuntimeException("locked"),
        createView = rec("create"))
    }
  }

  test("catalog DDL strings (D1/D2/D8-D11, E4)") {
    assert(MonetDdl.existsSql("sys", "My Table").contains("name = 'my_table'"))
    assert(MonetDdl.isTableSql("sys", "t").contains("query IS NULL"))
    assert(MonetDdl.dropTableSql("sys", "t") == "DROP TABLE \"sys\".\"t\"")
    assert(MonetDdl.dropViewSql("sys", "v") == "DROP VIEW \"sys\".\"v\"")
    assert(MonetDdl.ctasSql("sys", "tmp_t", "t") ==
      "CREATE TABLE \"sys\".\"t\" AS SELECT * FROM \"sys\".\"tmp_t\" WITH DATA")
    assert(MonetDdl.createViewSql("sys", "t", "t_2024_01_01_00_00_00") ==
      "CREATE VIEW \"sys\".\"t\" AS SELECT * FROM \"sys\".\"t_2024_01_01_00_00_00\"")
    assert(MonetDdl.findVersionsSql("t") ==
      "SELECT name FROM sys.tables WHERE name LIKE 't\\_20%\\_%' ORDER BY name DESC")
  }
}
