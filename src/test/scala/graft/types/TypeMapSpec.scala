package graft.types

import java.sql.Types
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import TypeMap.ColumnMeta

/** Golden tests for the JDBC↔Spark↔MonetDB type map — the FIXTURES.md §F3
  * "typezoo" table, derived from `MonetDBUtil.java:205-295`. */
class TypeMapSpec extends AnyFunSuite {

  test("typezoo: Monet DDL types match the reference map") {
    val cases = Seq(
      ColumnMeta("c_bigint", Types.BIGINT) -> "bigint",
      ColumnMeta("c_bool", Types.BIT) -> "boolean",
      ColumnMeta("c_bool2", Types.BOOLEAN) -> "boolean",
      ColumnMeta("c_char", Types.CHAR, displaySize = 10) -> "char(10)",
      ColumnMeta("c_nchar", Types.NCHAR, displaySize = 7) -> "char(7)",
      ColumnMeta("c_varchar", Types.NVARCHAR, displaySize = 50) -> "varchar(50)",
      ColumnMeta("c_clob", Types.NCLOB) -> "clob",
      ColumnMeta("c_blob", Types.BLOB) -> "blob",
      ColumnMeta("c_date", Types.DATE) -> "date",
      ColumnMeta("c_time", Types.TIME) -> "time",
      ColumnMeta("c_ts", Types.TIMESTAMP) -> "timestamp",
      ColumnMeta("c_double", Types.DOUBLE) -> "double",
      ColumnMeta("c_float", Types.FLOAT) -> "float",
      ColumnMeta("c_real", Types.REAL) -> "real",
      ColumnMeta("c_int", Types.INTEGER) -> "int",
      ColumnMeta("c_smallint", Types.SMALLINT) -> "smallint",
      ColumnMeta("c_tinyint", Types.TINYINT) -> "tinyint")
    cases.foreach { case (c, want) =>
      assert(TypeMap.monetDdlType(c) == want, s"for ${c.name}")
    }
  }

  test("decimal scale-0 downcast by precision (MonetDBUtil.java:244-263)") {
    assert(TypeMap.monetDdlType(ColumnMeta("d", Types.NUMERIC, precision = 2)) == "tinyint")
    assert(TypeMap.monetDdlType(ColumnMeta("d", Types.NUMERIC, precision = 4)) == "smallint")
    assert(TypeMap.monetDdlType(ColumnMeta("d", Types.NUMERIC, precision = 9)) == "int")
    assert(TypeMap.monetDdlType(ColumnMeta("d", Types.NUMERIC, precision = 19)) == "bigint")
    assert(TypeMap.monetDdlType(ColumnMeta("d", Types.DECIMAL, precision = 3)) == "smallint")
  }

  test("decimal precision capped at 18 in DDL, not in Spark type") {
    assert(TypeMap.monetDdlType(
      ColumnMeta("d", Types.DECIMAL, precision = 38, scale = 10)) == "decimal(18,10)")
    assert(TypeMap.jdbcToSpark(
      ColumnMeta("d", Types.DECIMAL, precision = 38, scale = 10)) == DecimalType(38, 10))
  }

  test("jdbcToSpark core mappings incl. TIME→String decision") {
    assert(TypeMap.jdbcToSpark(ColumnMeta("c", Types.BIGINT)) == LongType)
    assert(TypeMap.jdbcToSpark(ColumnMeta("c", Types.TIME)) == StringType)
    assert(TypeMap.jdbcToSpark(ColumnMeta("c", Types.FLOAT)) == DoubleType)
    assert(TypeMap.jdbcToSpark(ColumnMeta("c", Types.REAL)) == FloatType)
    assert(TypeMap.jdbcToSpark(ColumnMeta("c", Types.TIMESTAMP)) == TimestampType)
    assert(TypeMap.jdbcToSpark(ColumnMeta("c", Types.TINYINT)) == ByteType)
  }

  test("unknown type is a hard error (MonetDBUtil.java:235-239)") {
    intercept[IllegalArgumentException] {
      TypeMap.monetDdlType(ColumnMeta("c", Types.ARRAY))
    }
    intercept[IllegalArgumentException] {
      TypeMap.jdbcToSpark(ColumnMeta("c", Types.STRUCT))
    }
  }

  test("column modifiers: auto_increment + NOT NULL (MonetDBUtil.java:284-292)") {
    assert(TypeMap.columnDdl(ColumnMeta("ID Col", Types.INTEGER,
      nullable = false, autoIncrement = true)) == "\"id_col\" int auto_increment NOT NULL")
    assert(TypeMap.columnDdl(ColumnMeta("name", Types.NVARCHAR, displaySize = 20)) ==
      "\"name\" varchar(20)")
  }

  test("create table DDL") {
    val ddl = TypeMap.createTableDdl("sys", "My Table",
      Seq(ColumnMeta("a", Types.INTEGER), ColumnMeta("b", Types.NVARCHAR, displaySize = 5)))
    assert(ddl == """CREATE TABLE "sys"."my_table" ("a" int, "b" varchar(5))""")
  }

  test("schema evolve: missing columns + type-change report (D7)") {
    val source = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType),
      StructField("c", DoubleType)))
    val target = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType)))
    val (adds, changes) = TypeMap.evolveDdl("sys", "t", source, target)
    assert(adds == Seq("""ALTER TABLE "sys"."t" ADD COLUMN "c" double"""))
    assert(changes == Seq("b: bigint -> string"))
  }
}

class IdentifiersSpec extends AnyFunSuite {
  test("normalize: lowercase + non-alphanumeric runs → _ (MonetDBUtil.java:301-333)") {
    assert(Identifiers.normalize("My Column") == "my_column")
    assert(Identifiers.normalize("a-b") == "a_b")
    assert(Identifiers.normalize("a_b") == "a_b")
    assert(Identifiers.normalize("Weird!!Name##2") == "weird_name_2")
  }

  test("collision detection (SURVEY §7.5: a-b vs a_b)") {
    val c = Identifiers.collisions(Seq("a-b", "a_b", "ok"))
    assert(c.keySet == Set("a_b"))
    assert(c("a_b").toSet == Set("a-b", "a_b"))
  }

  test("identifier quoting lower-cases + sanitizes") {
    assert(Identifiers.quote("My Col") == "\"my_col\"")
  }

  test("value quoting escapes backslash and quote (MonetDBUtil.java:315-318)") {
    assert(Identifiers.quoteValue("it's a \\ test") == "'it\\'s a \\\\ test'")
  }
}
