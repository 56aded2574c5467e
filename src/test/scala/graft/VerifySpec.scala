package graft

import scala.jdk.CollectionConverters._

/** The correctness dump's query filter: a prefix list dumps exactly the
  * matching queries and their oracle SQL; no filter dumps every query.
  * Drives [[Verify.dump]] on the shared session — `Verify.main` stops
  * its session, which would take the other suites' with it. */
class VerifySpec extends SparkSpec {

  private def resultDirs(out: String): Set[String] =
    new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet

  private def oracleKeys(out: String): Set[String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$out/oracle_sql.json"))
      .fieldNames().asScala.toSet

  test("a prefix filter dumps exactly the matching queries and their oracle SQL") {
    val out = java.nio.file.Files.createTempDirectory("verify_filter").toString
    Verify.dump(spark, sf(), out, Seq("q02", "q03"))
    val want = Set("q02_projection", "q03_filter_pushdown")
    assert(resultDirs(out) == want)
    assert(oracleKeys(out) == want)
    want.foreach { n =>
      assert(new java.io.File(s"$out/$n/_SUCCESS").exists(), n)
    }
  }

  test("no filter dumps every SparkEntry.queries key") {
    val out = java.nio.file.Files.createTempDirectory("verify_all").toString
    Verify.dump(spark, sf(), out, Seq.empty)
    assert(resultDirs(out) == SparkEntry.queries.keySet)
    assert(oracleKeys(out) == SparkEntry.oracleSql.keySet)
  }
}
