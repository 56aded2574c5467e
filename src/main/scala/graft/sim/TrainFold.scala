package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Single-stage sufficient-statistics folds for the quantizer training
  * loops (IVF / PQ Lloyd rounds, the OPQ cross-covariance pass).
  *
  * Each Lloyd round used to be `groupBy(cell).agg(count, sum...)
  * .collect()` — logically one map-side-combined aggregation, but
  * physically TWO jobs per round under AQE (shuffle-map materialization,
  * then the re-planned result stage) plus a full analyze/optimize/plan
  * cycle of the aggregate per round. The collected state is KiB
  * regardless of corpus size, so the exchange moves nothing the driver
  * could not merge itself: these folds run the codegen'd keyed
  * projection once per partition, accumulate flat long arrays, and add
  * each partition's arrays into one driver-side total as its task
  * finishes (`runJob`'s result handler), so the driver never keeps
  * every partition's arrays at once — ONE job, ONE stage, zero shuffle
  * per round (guide §2.4 "remove shuffles outright"; measured
  * r15: PqIndex.train 5 jobs → 3, wall 1.99 s → sub-second at sf0.1).
  *
  * Determinism: identical values to the aggregates they replace — the
  * per-element term is `floor(double(x_i) · 1e9)` as a long (same
  * truncation/NaN/±Inf semantics as Spark's non-ANSI double→long cast:
  * floor output is integral, NaN folds to 0, ±Inf saturates), and long
  * addition is commutative/associative, so any partition layout or merge
  * order produces the same sums — the same order-independence argument
  * the fixed-point aggregation itself was chosen for.
  */
private[graft] object TrainFold {

  /** `counts(k)` and `sums(k·dim + i) = Σ floor(double(vec_i) · 1e9)`
    * over rows with key `k`, in one single-stage job. `df` must project
    * exactly `(k: int, vec: array<float>)` with `0 ≤ k < nKeys`; a row
    * with a null key or null vector fails the job (every caller filters
    * null vectors first, so one is a broken caller contract), null
    * elements contribute nothing (SQL `sum` semantics) while the row
    * still counts (`count(lit(1))`). */
  def keyedFixedPointSums(df: DataFrame, nKeys: Int,
      dim: Int): (Array[Long], Array[Long]) = {
    require(nKeys > 0 && dim > 0, s"nKeys=$nKeys dim=$dim out of range")
    val counts = new Array[Long](nKeys)
    val sums = new Array[Long](nKeys * dim)
    df.sparkSession.sparkContext.runJob(
      df.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => {
        val c = new Array[Long](nKeys)
        val s = new Array[Long](nKeys * dim)
        while (it.hasNext) {
          val row = it.next()
          if (row.isNullAt(0) || row.isNullAt(1))
            throw new IllegalArgumentException(
              "keyedFixedPointSums: null key or null vector row")
          val k = row.getInt(0)
          val arr = row.getArray(1)
          c(k) += 1L
          val n = math.min(dim, arr.numElements())
          var i = 0
          while (i < n) {
            if (!arr.isNullAt(i)) {
              s(k * dim + i) +=
                math.floor(arr.getFloat(i).toDouble * 1e9).toLong
            }
            i += 1
          }
        }
        (c, s)
      },
      (_: Int, partial: (Array[Long], Array[Long])) => {
        addInto(counts, partial._1)
        addInto(sums, partial._2)
      })
    (counts, sums)
  }

  /** The OPQ cross-covariance statistics
    * `s((i·m + sub)·ksub + cell) = Σ_{rows: codes(sub)=cell}
    * floor(double(x_i) · 1e9)` in one single-stage job. `df` must
    * project exactly `(codes: array<int>, x: array<float>)` with every
    * code in `[0, ksub)`; a null row or an out-of-range code fails the
    * job instead of adding into another cell's slot. Replaces a
    * posexplode(codes) × explode(0..dim−1) relation — an m·dim× row
    * blowup (512× at dim 64 / m 8) shuffled onto dim·m·ksub keys — with
    * a direct fold over the un-exploded rows; the (i, sub, cell) groups
    * and their exact long sums are identical. */
  def codesCrossSums(df: DataFrame, m: Int, ksub: Int,
      dim: Int): Array[Long] = {
    require(m > 0 && ksub > 0 && dim > 0, s"m=$m ksub=$ksub dim=$dim out of range")
    val total = new Array[Long](dim * m * ksub)
    df.sparkSession.sparkContext.runJob(
      df.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => {
        val s = new Array[Long](dim * m * ksub)
        while (it.hasNext) {
          val row = it.next()
          if (row.isNullAt(0) || row.isNullAt(1))
            throw new IllegalArgumentException(
              "codesCrossSums: null codes or null vector row")
          val codes = row.getArray(0)
          val x = row.getArray(1)
          val nSub = math.min(m, codes.numElements())
          val n = math.min(dim, x.numElements())
          var j = 0
          while (j < nSub) {
            if (!codes.isNullAt(j)) {
              val cell = codes.getInt(j)
              if (cell < 0 || cell >= ksub)
                throw new IllegalArgumentException(
                  s"codesCrossSums: code $cell of subspace $j outside [0, $ksub)")
              var i = 0
              while (i < n) {
                if (!x.isNullAt(i)) {
                  s((i * m + j) * ksub + cell) +=
                    math.floor(x.getFloat(i).toDouble * 1e9).toLong
                }
                i += 1
              }
            }
            j += 1
          }
        }
        s
      },
      (_: Int, partial: Array[Long]) => addInto(total, partial))
    total
  }

  private def addInto(acc: Array[Long], part: Array[Long]): Unit = {
    var i = 0
    while (i < acc.length) { acc(i) += part(i); i += 1 }
  }
}
