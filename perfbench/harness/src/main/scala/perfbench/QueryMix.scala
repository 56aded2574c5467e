package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `query_mix`: a fixed subset of the program's named queries
  * (`SparkEntry.queries`) from all five query modules, run in a seeded
  * order, one at a time, each writing its result as parquet for the oracle
  * check. The warehouse module runs at sf1, the corpus modules at sf0.1. A
  * run measures whole passes over the subset.
  */
object QueryMix {

  /** A module's queries, by the program's own registries, the corpus they
    * run on, and the stride of the subset: every stride-th query in
    * query-number order. */
  final case class Module(name: String, queries: Set[String], sf1: Boolean, stride: Int)

  lazy val Modules = Seq(
    Module("ops", graft.ops.Relational.queries.keySet ++ graft.ops.Extended.queries.keySet,
      sf1 = true, stride = 36),
    Module("text", graft.text.TextAnalysis.queries.keySet, sf1 = false, stride = 42),
    Module("dedup", graft.dedup.Dedup.queries.keySet, sf1 = false, stride = 42),
    Module("sim", graft.sim.Similarity.queries.keySet, sf1 = false, stride = 42),
    Module("mm", graft.mm.Multimodal.queries.keySet, sf1 = false, stride = 42))

  /** Kept whatever the stride: q96 and q179 carry open questions from the
    * last round's verdict, q85 and q119 are the slowest reads at sf0.1. */
  val Keep = Set("q85_percentiles", "q96_asof_presplit", "q119_lsh_index_probe",
    "q179_incremental_components_delta")

  def number(q: String): Int = q.drop(1).takeWhile(_.isDigit).toInt

  /** (module, query) pairs of the subset. */
  lazy val Subset: Seq[(Module, String)] = Modules.flatMap { m =>
    m.queries.toSeq.sortBy(number).zipWithIndex
      .collect { case (q, i) if i % m.stride == 0 || Keep(q) => m -> q }
  }

  def label(m: Module): String = if (m.sf1) "sf1" else "sf0.1"

  /** The DuckDB oracle SQL of every query the mix runs, by corpus label. */
  def oracleSql: Map[String, Map[String, String]] =
    ((Subset.map { case (m, q) => label(m) -> q }) :+ ("sf0.1" -> FloorQuery))
      .groupBy(_._1).map { case (l, qs) =>
        l -> qs.map(_._2).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      }

  /** The smallest query through the same surface, the watermark probe, at
    * sf0.1. Its timed runs collect the one-row answer rather than write it:
    * with the write, the file commit made the median probe vary by up to a
    * quarter between runs on a shared host. */
  val FloorQuery = "q32_watermark_max_ts"

  def run(run: Run): Unit = {
    def dir(sf1: Boolean) = if (sf1) run.corpusSf1 else run.corpus
    val out = Paths.get(run.work, "out").toString
    run.setups(3) {
      // shuffle partitions from the larger corpus, the rule graft.Bench applies
      val rows = run.spark.read.parquet(s"${run.corpusSf1}/lineitem.parquet").count()
      run.spark.conf.set("spark.sql.shuffle.partitions", graft.ops.Skew
        .suggestedShufflePartitions(rows, avgRowBytes = 128L, cores = run.cores).toString)
    }
    val spark = run.spark
    run.mark("set-up")
    run.untimed(warmup(run, run.corpus))
    run.mark("warm-up")

    def query(name: String, sf1: Boolean, group: String): Double = {
      run.settle()
      val (_, dt) = run.timed(group) {
        SparkEntry.queries(name)(spark, dir(sf1)).write.mode("overwrite")
          .parquet(s"$out/${if (sf1) "sf1" else "sf0.1"}/$name")
      }
      dt
    }
    // the first queries through the planner and the parquet write path pay
    // for their code generation; without this the seed's first queries do
    Seq(false, true, false, true).foreach(sf1 => query(FloorQuery, sf1, "warm-up"))
    run.mark("query warm-up")
    // the launcher checks this written answer against the oracle; every
    // probe must return the same rows
    val floorRows = run.untimed(spark.read.parquet(s"$out/sf0.1/$FloorQuery").collect().toSeq)
    def probe(group: String): Double = {
      run.settle()
      val (rows, dt) = run.timed(group)(
        SparkEntry.queries(FloorQuery)(spark, run.corpus).collect().toSeq)
      run.check(rows == floorRows, s"$FloorQuery returned $rows, its written answer is $floorRows")
      dt
    }

    val order = new Random(run.seed).shuffle(Subset)
    val samples = mutable.ArrayBuffer.empty[Double]
    val floor = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val groups = mutable.ArrayBuffer.empty[(String, String, Double)]
    val gc0 = run.gcSeconds
    val t0 = System.nanoTime()
    var passes = 0
    var passS = 0.0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 + passS <= run.seconds) {
      passes += 1
      val p0 = System.nanoTime()
      order.foreach { case (m, q) =>
        // named by its output, so the launcher's oracle check of that
        // output does not count the same failed query again
        run.attempt(s"${label(m)}/$q") {
          val g = s"q-$passes-$q"
          val dt = query(q, m.sf1, g)
          samples += dt
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty[Double]) += dt
          groups += ((m.name, g, dt))
        }
        // one floor probe after every query, so that the probes spread over
        // the whole pass and a short burst of host load moves few of them
        run.attempt(s"sf0.1/$FloorQuery") { floor += probe(s"floor-${floor.size}") * 1e3 }
      }
      passS = (System.nanoTime() - p0) / 1e9
      run.mark(s"pass $passes")
    }
    val gcS = run.gcSeconds - gc0
    run.result("ops_s") = samples.toSeq
    run.result("floor_ms") = floor.toSeq
    run.result("timed_wall_s") = samples.sum
    run.result("per_query_s") = perQuery.map { case (q, ts) => q -> ts.toSeq }
    run.result("outputs") = ((Subset.map { case (m, q) => s"${label(m)}/$q" }) :+
      s"sf0.1/$FloorQuery").map(k => k -> s"$out/$k").toMap
    run.trace.foreach { t =>
      val m = layers(run, t, groups.toSeq, passes, gcS)
      m("trace.overhead_frac") = run.overhead(t)(probe("overhead"))
      run.result("layers") = m.toMap
    }
    run.finish()
  }

  /** Untimed first touch of the scan, shuffle, broadcast-join, text-hash
    * and sketch-aggregate code paths, so that the timed queries do not pay
    * for class loading and JIT compilation. */
  private def warmup(run: Run, dir: String): Unit = {
    val spark = run.spark
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = spark.read.parquet(s"$dir/part.parquet")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand").agg(sum("l_quantity").as("s")).orderBy("p_brand").count()
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(256)
    docs.select(xxhash64(col("text"))).count()
    graft.dedup.Dedup.simHashNearDups(docs, "text", "doc_id")
      .write.format("noop").mode("overwrite").save()
    graft.dedup.Dedup.minHashSignatures(docs, "text", "doc_id")
      .write.format("noop").mode("overwrite").save()
  }

  /** Per-module figures of the timed queries. The parts are measured
    * apart: Spark job time and the time of jobs from outside the query's
    * group by the listener, the driver thread's own work (`driver_gap_s`,
    * planning included) by its sampler. `trace.residual_frac` is how far
    * their sum misses the wall time. */
  private def layers(run: Run, t: Trace, groups: Seq[(String, String, Double)], passes: Int,
      gcS: Double): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val n = passes.toDouble
    var attributed = 0.0
    var unattributed = 0.0
    Modules.map(_.name).foreach { mod =>
      val gs = groups.filter(_._1 == mod)
      val per = gs.map { case (_, g, _) =>
        val (from, to) = run.windows(g)
        unattributed += t.foreignBusyS(g, from, to)
        (Agg.of(t.jobsOf(g)), t.driverSOf(g), t.planMsBetween(from, to))
      }
      val agg = per.map(_._1).foldLeft(Agg())(_ + _)
      val gap = per.map(_._2).sum
      attributed += agg.busyS + gap
      m(s"$mod.wall_s") = gs.map(_._3).sum / n
      m(s"$mod.plan_ms") = per.map(_._3).sum / n
      m(s"$mod.jobs") = agg.jobs / n
      m(s"$mod.stages") = agg.stages / n
      m(s"$mod.tasks") = agg.tasks / n
      m(s"$mod.exec_run_s") = agg.runS / n
      m(s"$mod.exec_cpu_s") = agg.cpuS / n
      m(s"$mod.input_bytes") = agg.inBytes / n
      m(s"$mod.shuffle_read_bytes") = agg.shuffleRead / n
      m(s"$mod.shuffle_write_bytes") = agg.shuffleWrite / n
      m(s"$mod.spill_bytes") = agg.spill / n
      m(s"$mod.driver_gap_s") = gap / n
    }
    val wall = groups.map(_._3).sum
    m("jvm.gc_s") = gcS / n
    m("unattributed_s") = unattributed / n
    m("trace.wall_s") = wall / n
    m("trace.residual_frac") = (attributed + unattributed - wall) / wall
    m
  }

}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
