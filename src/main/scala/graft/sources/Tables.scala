package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet star-schema table registry (harness source).
  *
  * The reference reads sources over JDBC (`CopyTable.java:310-327`); the
  * harness equivalent is the driver-generated parquet tables in
  * /root/testdata/sf*. Every query in [[graft.SparkEntry]] resolves its
  * inputs through here so the scan path is uniform (and a future JDBC
  * source can swap in transparently).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from a scale-factor directory.
    *
    * `events.parquet` has stored `ts` either as INT64 TIMESTAMP(NANOS)
    * (which Spark's parquet reader rejects — read nanos as long, rebuild
    * a microsecond timestamp) or, in newer generator versions, as a
    * native TIMESTAMP(MICROS). Both normalize to TIMESTAMP_NTZ here
    * (session TZ is pinned UTC, so wall-clock is preserved and matches
    * DuckDB's naive-timestamp view of the same file). The path resolves
    * through [[ParquetMeta.read]], with no Spark job.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = ParquetMeta.read(spark, s"$dir/$name.parquet")
    if (name == "events") {
      val normalized = df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        case _ => expr("cast(ts as timestamp_ntz)")
      }
      df.withColumn("ts", normalized)
    } else df
  }

  /** Register every table as a temp view (for the spark.sql query surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n => apply(spark, dir, n).createOrReplaceTempView(n) }
}
