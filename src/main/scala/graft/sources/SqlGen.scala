package graft.sources

/** Source-side SQL generation (SURVEY.md §2.A1-A6).
  *
  * Mirrors the reference's select/count generation
  * (`CopyTable.java:300-328`) and the per-dialect top-1 watermark query
  * (`SourceDatabaseType.java:21-25,45-49`). These strings feed the JDBC
  * reader's `query` option; for parquet-harness runs the same table spec
  * resolves through [[Tables]] instead.
  */
object SqlGen {

  sealed trait Dialect {
    def name: String
    def defaultPort: Int
    def url(server: String, port: Option[Int], database: String,
        instance: Option[String] = None): String
    /** max-by-1 watermark query (A6). */
    def top1(table: String, column: String): String
  }

  /** MS SQL Server (`SourceDatabaseType.java:16-30`).
    *
    * A named instance (`mssql.instance`, read at `CopyToolConfig.java:709`
    * and applied as a driver property in `SourceDatabase.java:49-52`)
    * selects a non-default SQL Server instance on the host. The Microsoft
    * JDBC dialect spells that as `;instanceName=<name>` in the URL; when
    * set, the SQL Server Browser resolves the instance's dynamic port, so
    * an explicit port is only emitted when the user configured one. */
  case object MsSql extends Dialect {
    val name = "mssql"
    val defaultPort = 1433
    def url(server: String, port: Option[Int], database: String,
        instance: Option[String] = None): String = {
      val inst = instance.map(_.trim).filter(_.nonEmpty)
      val hostPort = (inst, port) match {
        // named instance + no explicit port: let the Browser service
        // resolve the instance's dynamic port (a hardcoded 1433 would
        // defeat the instanceName and hit the default instance)
        case (Some(_), None) => server
        case _               => s"$server:${port.getOrElse(defaultPort)}"
      }
      val instProp = inst.map(i => s";instanceName=$i").getOrElse("")
      s"jdbc:sqlserver://$hostPort$instProp;databaseName=$database"
    }
    def top1(table: String, column: String): String =
      s"SELECT TOP 1 [$column] FROM [$table] ORDER BY [$column] DESC"
  }

  /** PostgreSQL (`SourceDatabaseType.java:39-54`). PostgreSQL has no
    * named-instance concept — a configured `instance` is rejected loudly
    * rather than silently ignored (a user who set it expects it to mean
    * something). */
  case object Postgres extends Dialect {
    val name = "postgresql"
    val defaultPort = 5432
    def url(server: String, port: Option[Int], database: String,
        instance: Option[String] = None): String = {
      require(instance.forall(_.trim.isEmpty),
        "'instance' is an MS SQL Server concept; PostgreSQL sources must not set it")
      s"jdbc:postgresql://$server:${port.getOrElse(defaultPort)}/$database"
    }
    def top1(table: String, column: String): String =
      s"""SELECT "$column" FROM "$table" ORDER BY "$column" DESC LIMIT 1"""
  }

  /** MonetDB's default MAPI port. */
  val MonetDbDefaultPort = 50000

  /** MonetDB target URL (A10). */
  def monetDbUrl(server: String, port: Int, database: String): String =
    s"jdbc:monetdb://$server:$port/$database"

  /** SELECT generation (A1-A3, `CopyTable.java:310-328`): an explicit
    * query wins; else a projection list; else `SELECT *`. */
  def selectSql(fromName: String, fromColumns: Option[String] = None,
      fromQuery: Option[String] = None): String =
    fromQuery.getOrElse {
      val cols = fromColumns.map(_.trim).filter(_.nonEmpty).getOrElse("*")
      s"SELECT $cols FROM $fromName"
    }

  /** COUNT generation (A5, `CopyTable.java:300-308`): custom count query
    * wins; else `COUNT(*)`. A custom `fromQuery` REQUIRES a paired count
    * query (`CopyToolConfig.java:955-960`). */
  def countSql(fromName: String, fromCountQuery: Option[String] = None,
      fromQuery: Option[String] = None): String =
    fromCountQuery.getOrElse {
      require(fromQuery.isEmpty,
        "a custom from-query requires an explicit count query")
      s"SELECT COUNT(*) FROM $fromName"
    }
}
