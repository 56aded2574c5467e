package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * `zip_with` + `aggregate` express a dot product, but higher-order
  * functions evaluate interpreted lambdas per element — a corpus-scale
  * similarity pass pays that on every (query, candidate) pair. This is
  * the one place the built-ins genuinely can't express the semantics
  * *efficiently*, so it gets a real `Expression` with `doGenCode`: a
  * tight primitive loop, null-safe, fully inside whole-stage codegen.
  *
  * Accumulation order is index-ascending (identical to the
  * left-to-right fold it replaces), so results are bit-for-bit equal to
  * the interpreted form and to the DuckDB oracle's list_aggregate sum.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      // freshName on EVERY local: two VectorDots in one codegen scope
      // (vec_cosine has three) otherwise redefine the variable, janino
      // rejects the stage, and Spark silently runs it interpreted
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorDot = copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket key over a float vector, one pass.
  *
  * Semantically identical to the composed form (`bits` sign-bit
  * projections, coefficient `(xxhash64(p*7919+i) % 10007)/10007`,
  * index-ascending summation) but the `bits × dim` coefficient matrix is
  * materialized ONCE at plan time instead of `bits × dim` literal
  * `element_at` expression nodes — the composed tree at dim=64/bits=4 is
  * 256 multiply-add subtrees whose codegen alone costs seconds and falls
  * back to interpreted eval past the JIT limits.
  *
  * `planeOffset` selects an independent hyperplane family for banded
  * (OR-amplified) LSH: band r uses global plane indices
  * `planeOffset + p`, so bands draw disjoint rows of the same
  * deterministic coefficient stream and an external replayer (the
  * DuckDB oracle) can regenerate any band from the offset alone.
  * Offset 0 is the historical single-band family — all existing keys
  * are unchanged.
  */
case class HyperplaneLshKey(child: Expression, dim: Int, bits: Int,
    planeOffset: Int = 0)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_lsh_key"

  // Deterministic pseudo-random hyperplanes — same family on every
  // executor, no stored model. Mirrors xxhash64(lit(p*7919+i)) % 10007
  // over an IntegerType literal (seed 42, hashInt).
  @transient private lazy val coefs: Array[Array[Double]] =
    Array.tabulate(bits, dim) { (p, i) =>
      (org.apache.spark.sql.catalyst.expressions.XXH64
        .hashInt((planeOffset + p) * 7919 + i, 42L) % 10007L).toDouble / 10007.0
    }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(dim, x.numElements())
    var key = 0L
    var p = 0
    while (p < bits) {
      val c = coefs(p)
      var proj = 0.0
      var i = 0
      while (i < n) { proj += x.getFloat(i).toDouble * c(i); i += 1 }
      if (proj > 0) key |= (1L << p)
      p += 1
    }
    key
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cf = ctx.addReferenceObj("coefs", coefs, "double[][]")
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val proj = ctx.freshName("proj")
      val key = ctx.freshName("key")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |long $key = 0L;
         |for (int $p = 0; $p < $bits; $p++) {
         |  double[] $c = $cf[$p];
         |  double $proj = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $proj += ((double) $v.getFloat($i)) * $c[$i];
         |  }
         |  if ($proj > 0) $key |= (1L << $p);
         |}
         |${ev.value} = $key;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneLshKey =
    copy(child = newChild)
}

/** Fraction of positions where two equal-length long arrays agree —
  * the MinHash Jaccard estimate. Replaces the interpreted
  * `size(filter(zip_with(...)))` lambda chain on the candidate-pair path. */
case class SigMatchFrac(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_match_frac"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) eq += 1
      i += 1
    }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val eq = ctx.freshName("eq")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $eq = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $eq++;
         |}
         |${ev.value} = ($n == 0) ? 0.0 : ((double) $eq) / $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SigMatchFrac = copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment (argmin of `|c|² − 2v·c`) with the
  * centroid matrix carried as a codegen REFERENCE OBJECT, not inline
  * literals. The composed argmin (`array_min` over `nlist` structs of
  * `lit(|c|²) − 2·vec_dot(v, typedLit(c))`) inlines each |c|² as a source
  * literal, so every Lloyd iteration's new centroids produce NEW
  * generated source → a fresh janino compile per iteration. Here the
  * matrix rides `ctx.addReferenceObj`, the source is identical for every
  * centroid set, and the whole training loop compiles ONCE (and hits the
  * codegen cache across builds). Ties break to the lowest cell index. */
case class NearestCell(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var best = 0
    var bestDist = Double.MaxValue
    var j = 0
    while (j < centroids.length) {
      val c = centroids(j)
      val n = math.min(c.length, x.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * c(i); i += 1 }
      val dist = norms(j) - 2.0 * dot
      if (dist < bestDist) { bestDist = dist; best = j }
      j += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cf = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val nm = ctx.addReferenceObj("norms", norms, "double[]")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val dist = ctx.freshName("dist")
      val best = ctx.freshName("best"); val bestDist = ctx.freshName("bestDist")
      val c = ctx.freshName("c")
      s"""
         |int $best = 0;
         |double $bestDist = Double.MAX_VALUE;
         |for (int $j = 0; $j < $cf.length; $j++) {
         |  double[] $c = $cf[$j];
         |  int $n = java.lang.Math.min($c.length, $v.numElements());
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ((double) $v.getFloat($i)) * $c[$i];
         |  }
         |  double $dist = $nm[$j] - 2.0 * $dot;
         |  if ($dist < $bestDist) { $bestDist = $dist; $best = $j; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** Max |xᵢ| of a float vector — the symmetric-quantization range scan.
  * One pass, stays FloatType (so the `max_abs / 127` scale divides the
  * same float both engines see). Empty/all-null arrays → 0f. */
case class VectorMaxAbs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = FloatType
  override def prettyName: String = "vec_max_abs"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var m = 0f
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) { val a = Math.abs(x.getFloat(i)); if (a > m) m = a }
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val a = ctx.freshName("a")
      s"""
         |float $m = 0f;
         |for (int $i = 0; $i < $v.numElements(); $i++) {
         |  if (!$v.isNullAt($i)) {
         |    float $a = java.lang.Math.abs($v.getFloat($i));
         |    if ($a > $m) $m = $a;
         |  }
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VectorMaxAbs =
    copy(child = newChild)
}

/** Symmetric int8 quantization of a float vector given a double scale:
  * `qᵢ = clamp(floor(xᵢ / scale + 0.5), −127, 127)` — floor(+0.5), NOT
  * round(): Spark rounds HALF_UP, DuckDB half-away-from-zero, and the
  * floor form is the identical IEEE operation sequence in both engines
  * (which is what makes the quantized bytes oracle-replayable).
  * `scale ≤ 0` → all zeros (the all-zero-vector guard). One codegen'd
  * pass; replaces an interpreted per-element `transform` lambda on what
  * is, at embedding-corpus scale, a full-table rewrite. */
case class VectorQuantizeInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float>, double), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "vec_quantize_i8"

  override def nullSafeEval(v: Any, s: Any): Any =
    VectorQuantizeInt8.compute(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) =>
      s"${ev.value} = graft.functions.VectorQuantizeInt8.compute($v, $s);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorQuantizeInt8 =
    copy(left = newLeft, right = newRight)
}

object VectorQuantizeInt8 {
  def compute(x: ArrayData, scale: Double): ArrayData = {
    val n = x.numElements()
    val out = new Array[Byte](n)
    if (scale > 0) {
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i)) {
          val q = Math.floor(x.getFloat(i) / scale + 0.5)
          out(i) = Math.max(-127.0, Math.min(127.0, q)).toByte
        }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Fixed-point SQ8 asymmetric distance ([[graft.sim.SqIndex]]'s pair
  * cost): per dimension reconstruct `r = vmin + (code + 0.5)·diff / 255`
  * (FAISS Codec8bit decode) and accumulate `floor((r² − 2·q_d·r)·1e9)`
  * as an exact long — arithmetic identical, term for term, to the
  * zip_with/aggregate fold it replaces (and to the DuckDB oracle
  * replay), but codegen'd: the higher-order-function form allocates and
  * interprets per element, measured 8× slower than brute force at dim
  * 64 — which inverted SQ8's entire reason to exist. */
case class SqAdcDist(left: Expression, right: Expression,
    vmin: Array[Double], vdiff: Array[Double])
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<int> codes, array<float> query), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "sq_adc_dist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val q = b.asInstanceOf[ArrayData]
    val n = math.min(math.min(codes.numElements(), q.numElements()), vmin.length)
    var acc = 0L
    var d = 0
    while (d < n) {
      val r = vmin(d) + ((codes.getInt(d) + 0.5) * vdiff(d)) / 255.0
      acc += math.floor((r * r - 2.0 * q.getFloat(d).toDouble * r) * 1e9).toLong
      d += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val mn = ctx.addReferenceObj("vmin", vmin, "double[]")
      val df = ctx.addReferenceObj("vdiff", vdiff, "double[]")
      val d = ctx.freshName("d"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val r = ctx.freshName("r")
      s"""
         |int $n = java.lang.Math.min(
         |  java.lang.Math.min($a.numElements(), $b.numElements()), $mn.length);
         |long $acc = 0L;
         |for (int $d = 0; $d < $n; $d++) {
         |  double $r = $mn[$d] + (($a.getInt($d) + 0.5) * $df[$d]) / 255.0;
         |  $acc += (long) java.lang.Math.floor(
         |    ($r * $r - 2.0 * ((double) $b.getFloat($d)) * $r) * 1e9);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SqAdcDist = copy(left = newLeft, right = newRight)
}

/** Dense matrix–vector product `y_r = Σ_i x_i · R[r][i]` with the float
  * matrix as a codegen REFERENCE OBJECT — the [[NearestCell]] discipline
  * applied to the OPQ rotation. The composed form (`array` of dim
  * `vec_dot(v, typedLit(row))` nodes) carries dim² literal floats through
  * every plan that rotates: at dim 64 that is 4096 multiply-add subtrees,
  * and the generated projection METHOD overflows janino's 64 KB limit —
  * Spark pays the failed compile, then runs the stage INTERPRETED
  * (measured: the q177 rotate stage compiles 6955 generated lines, fails,
  * and falls back). Here the matrix rides one reference object, the loop
  * is ~15 generated lines, and the arithmetic is term-for-term identical:
  * per output row an index-ascending double fold of
  * `((double) x_i) · ((double) R[r][i])`, cast to float — exactly
  * `vec_dot(v, typedLit(row)).cast("float")`. */
case class MatVecFloat(child: Expression, mat: Array[Array[Float]])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  // element nullability true to match the composed array(cast(vec_dot))
  // schema it replaces (values are never null for a non-null input)
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def prettyName: String = "mat_vec_f"

  override def nullSafeEval(v: Any): Any =
    MatVecFloat.compute(v.asInstanceOf[ArrayData], mat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val m = ctx.addReferenceObj("mat", mat, "float[][]")
      s"${ev.value} = graft.functions.MatVecFloat.compute($v, $m);"
    })

  override protected def withNewChildInternal(newChild: Expression): MatVecFloat =
    copy(child = newChild)
}

object MatVecFloat {
  def compute(x: ArrayData, mat: Array[Array[Float]]): ArrayData = {
    val out = new Array[Float](mat.length)
    var r = 0
    while (r < mat.length) {
      val row = mat(r)
      val n = math.min(x.numElements(), row.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getFloat(i).toDouble * row(i).toDouble; i += 1 }
      out(r) = acc.toFloat
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Per-query fixed-point ADC distance table (PqIndex.dtabFp's value) with
  * the SERVED codebook as a reference object: entry `j·ksub + c` =
  * `floor((|c_jc|² − 2·q_j·c_jc) · 1e9)` as a long. The composed form is
  * m·ksub (`floor((lit − 2·vec_dot(slice, typedLit)) · 1e9)`) subtrees —
  * ~1300 expression nodes per PQ query plan at m=8/ksub=16, paid in
  * analysis and codegen on EVERY plan that builds a distance table.
  * Arithmetic is term-for-term identical: `norms` is the index-ascending
  * double |c|² fold over the served (double) centroid, the dot is the
  * vec_dot fold of `(double) q[j·dsub+i] · (double) centF[i]` over the
  * float-rounded centroid, and the combine order is
  * `((norm − (2.0 · dot)) · 1e9)` before the floor — exactly the
  * composed tree's evaluation. */
case class PqDistTable(child: Expression, served: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_dist_table"

  @transient private lazy val norms: Array[Array[Double]] =
    served.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    })
  @transient private lazy val centsF: Array[Array[Array[Float]]] =
    served.map(_.map(_.map(_.toFloat)))

  override def nullSafeEval(v: Any): Any =
    PqDistTable.compute(v.asInstanceOf[ArrayData], centsF, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cf = ctx.addReferenceObj("centsF", centsF, "float[][][]")
      val nm = ctx.addReferenceObj("norms", norms, "double[][]")
      s"${ev.value} = graft.functions.PqDistTable.compute($v, $cf, $nm);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqDistTable =
    copy(child = newChild)
}

object PqDistTable {
  def compute(q: ArrayData, centsF: Array[Array[Array[Float]]],
      norms: Array[Array[Double]]): ArrayData = {
    val m = centsF.length
    val ksub = if (m == 0) 0 else centsF(0).length
    val dsub = if (ksub == 0) 0 else centsF(0)(0).length
    val out = new Array[Long](m * ksub)
    val qn = q.numElements()
    var j = 0
    while (j < m) {
      val base = j * dsub
      // slice(q, j·dsub+1, dsub) semantics: elements past the end of q
      // simply don't exist, so the dot runs over min(dsub, qn − base)
      val n = math.max(0, math.min(dsub, qn - base))
      var c = 0
      while (c < ksub) {
        val cent = centsF(j)(c)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += q.getFloat(base + i).toDouble * cent(i).toDouble; i += 1 }
        out(j * ksub + c) =
          math.floor((norms(j)(c) - 2.0 * dot) * 1e9).toLong
        c += 1
      }
      j += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** ADC pair cost `Σ_j dtab[j·ksub + codes_j]` as one codegen'd fold —
  * replaces the interpreted `aggregate(zip_with(codes, sequence, λ), 0L,
  * +)` lambda pair on the (corpus × query) hot path, the same
  * higher-order-function tax [[SqAdcDist]] documented at 8×. Long adds
  * in ascending j, exactly the fold it replaces. */
case class PqAdcDist(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<int> codes, array<bigint> dtab), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_dist"

  // A null code element or an out-of-range table index yields a NULL
  // total — exactly the composed element_at/aggregate fold's behavior
  // (null propagates through the `+`; element_at past the array bounds
  // is NULL under non-ANSI). Without the guard, a null element read 0
  // from an Unsafe array (silently wrong distance) and a bad code read
  // out of dtab's bounds. Callers never produce either; the guard is
  // one compare per KiB-table lookup.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val dtab = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val nTab = dtab.numElements()
    var acc = 0L
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val idx = j * ksub + codes.getInt(j)
      if (idx < 0 || idx >= nTab) return null
      acc += dtab.getLong(idx)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("j"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc"); val idx = ctx.freshName("idx")
      val nTab = ctx.freshName("nTab"); val bad = ctx.freshName("bad")
      s"""
         |int $m = $a.numElements();
         |int $nTab = $b.numElements();
         |long $acc = 0L;
         |boolean $bad = false;
         |for (int $j = 0; $j < $m; $j++) {
         |  if ($a.isNullAt($j)) { $bad = true; break; }
         |  int $idx = $j * $ksub + $a.getInt($j);
         |  if ($idx < 0 || $idx >= $nTab) { $bad = true; break; }
         |  $acc += $b.getLong($idx);
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcDist =
    copy(left = newLeft, right = newRight)
}

/** Element-wise float difference `a_i − b_i` — the residualization map
  * (`x − centroid(cell)`), replacing an interpreted `zip_with` lambda on
  * what is, in the residual-PQ paths, a full-corpus projection. Length =
  * max(|a|, |b|) with null elements past the shorter input — exactly
  * `zip_with(a, b, (x, y) => x − y)`'s padding semantics (inputs are
  * same-length in every caller; the padding never fires). */
case class VectorSubFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def prettyName: String = "vec_sub_f"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorSubFloat.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorSubFloat.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorSubFloat =
    copy(left = newLeft, right = newRight)
}

object VectorSubFloat {
  def compute(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) null
        else java.lang.Float.valueOf(a.getFloat(i) - b.getFloat(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Unit normalization `x_d / ‖x‖` as ONE codegen'd pass. The composed
  * `transform(v, x => x / sqrt(vec_dot(v, v)))` evaluates the norm
  * dot-product INSIDE the lambda — codegen's subexpression elimination
  * does not cross lambda boundaries, so the full dim-element dot runs
  * once per ELEMENT (dim² multiplies per row on the corpus-wide
  * normalize pass). Here the norm folds once, then one divide+cast per
  * element — identical arithmetic order, bit-identical floats. */
case class UnitNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def prettyName: String = "unit_normalize"

  override def nullSafeEval(v: Any): Any =
    UnitNormalize.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.UnitNormalize.compute($v);")

  override protected def withNewChildInternal(newChild: Expression): UnitNormalize =
    copy(child = newChild)
}

object UnitNormalize {
  def compute(x: ArrayData): ArrayData = {
    val n = x.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) { val f = x.getFloat(i).toDouble; dot += f * f; i += 1 }
    val norm = math.sqrt(dot)
    val out = new Array[Float](n)
    i = 0
    while (i < n) { out(i) = (x.getFloat(i).toDouble / norm).toFloat; i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** SQ8 encode `floor(((x_d − vmin_d) / vdiff_d) · 255)` (0 when
  * `vdiff_d = 0`) as one codegen'd
  * pass — replaces the interpreted `zip_with(v, sequence, λ)` lambda
  * with two array-literal lookups per element on the corpus-wide
  * encode (the [[SqAdcDist]] lesson applied to the write side).
  * Identical arithmetic: double subtract/divide/multiply, floor,
  * int truncation. */
case class SqEncode(child: Expression, vmin: Array[Double],
    vdiff: Array[Double]) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "sq_encode"

  override def nullSafeEval(v: Any): Any =
    SqEncode.compute(v.asInstanceOf[ArrayData], vmin, vdiff)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mn = ctx.addReferenceObj("vmin", vmin, "double[]")
      val df = ctx.addReferenceObj("vdiff", vdiff, "double[]")
      s"${ev.value} = graft.functions.SqEncode.compute($v, $mn, $df);"
    })

  override protected def withNewChildInternal(newChild: Expression): SqEncode =
    copy(child = newChild)
}

object SqEncode {
  def compute(x: ArrayData, vmin: Array[Double], vdiff: Array[Double]): ArrayData = {
    val dim = vmin.length
    // zip_with(v, sequence(1, dim)) semantics: output length =
    // max(|v|, dim), with null x past |v| → null element unless the
    // diff-is-zero guard fires first (inputs are always dim-length in
    // every caller; the padding never fires)
    val n = math.max(x.numElements(), dim)
    val out = new Array[Any](n)
    var d = 0
    while (d < n) {
      out(d) =
        if (d >= dim) null // sequence side exhausted → null index → null
        else if (vdiff(d) == 0.0) Integer.valueOf(0)
        else if (d >= x.numElements() || x.isNullAt(d)) null
        else {
          // Double.toInt saturates at Int.MaxValue/MinValue exactly like
          // the composed cast("int") on a double (non-ANSI); .toLong.toInt
          // would wrap modulo 2^32 for extreme out-of-range inputs
          Integer.valueOf(math.floor(((x.getFloat(d).toDouble - vmin(d)) /
            vdiff(d)) * 255.0).toInt)
        }
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Hamming distance over packed-word code columns: Σ popcount(a_i ⊕
  * b_i), one codegen'd fold — replaces the interpreted
  * `aggregate(zip_with(a, b, λ), 0L, +)` pair on the corpus × query
  * hamming scan. Null/length-mismatch semantics mirror the fold it
  * replaces (null element → null total); inputs are same-length and
  * non-null in every caller. */
case class HammingWords(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_words"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    if (na != nb) return null // zip_with pads the shorter side with null
    var acc = 0L
    var i = 0
    while (i < na) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |long $acc = 0L;
         |boolean $bad = ($na != $nb);
         |if (!$bad) {
         |  for (int $i = 0; $i < $na; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HammingWords = copy(left = newLeft, right = newRight)
}

/** Sign-bit packing `bit b of word w = (x_{60w+b} > mean_{60w+b})` as
  * one codegen'd pass — replaces dim `when(element_at(...) > lit)`
  * subtrees per plan on the corpus-wide binarize. Missing/null
  * dimensions contribute a 0 bit, exactly like the composed form's
  * null-propagating `when`. */
case class BinSignPack(child: Expression, means: Array[Double])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bin_sign_pack"

  override def nullSafeEval(v: Any): Any =
    BinSignPack.compute(v.asInstanceOf[ArrayData], means)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mn = ctx.addReferenceObj("means", means, "double[]")
      s"${ev.value} = graft.functions.BinSignPack.compute($v, $mn);"
    })

  override protected def withNewChildInternal(newChild: Expression): BinSignPack =
    copy(child = newChild)
}

object BinSignPack {
  def compute(x: ArrayData, means: Array[Double]): ArrayData = {
    val dim = means.length
    val nWords = (dim + 59) / 60
    val out = new Array[Long](nWords)
    var w = 0
    while (w < nWords) {
      val bits = math.min(60, dim - w * 60)
      var word = 0L
      var b = 0
      while (b < bits) {
        val d = w * 60 + b
        if (d < x.numElements() && !x.isNullAt(d) &&
          x.getFloat(d).toDouble > means(d)) word |= (1L << b)
        b += 1
      }
      out(w) = word
      w += 1
    }
    ArrayData.toArrayData(out)
  }
}

object VectorFunctions {
  private def expr(c: Column): Expression = GraftBridge.toExpression(c)
  private def column(e: Expression): Column = GraftBridge.toColumn(e)

  /** Dot product of two float vectors, in double precision. */
  def vec_dot(a: Column, b: Column): Column = column(VectorDot(expr(a), expr(b)))

  /** L2 norm. */
  def vec_norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vec_dot(a, a))

  /** Cosine similarity. */
  def vec_cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  /** Random-hyperplane LSH bucket key (sign bits of `bits` projections). */
  def vec_lsh_key(v: Column, dim: Int, bits: Int): Column =
    column(HyperplaneLshKey(expr(v), dim, bits))

  /** Band `band`'s bucket key for OR-amplified LSH: an independent
    * hyperplane family at plane offset `band * 24` (24 = the max `bits`
    * [[graft.sim.Similarity.suggestedLshBits]] will produce, so band
    * families never overlap whatever the sizing picks). */
  def vec_lsh_key_band(v: Column, dim: Int, bits: Int, band: Int): Column = {
    // the 24-plane stride is the independence contract: bits beyond it
    // would reuse planes from the next band's family and silently
    // correlate "independent" bands for any caller that bypasses
    // bandedCosineNearDupPairs' own guard
    require(bits >= 1 && bits <= 24,
      s"vec_lsh_key_band requires 1 <= bits <= 24 (band stride), got $bits")
    require(band >= 0, s"vec_lsh_key_band requires band >= 0, got $band")
    column(HyperplaneLshKey(expr(v), dim, bits, planeOffset = band * 24))
  }

  /** Fraction of agreeing positions in two minhash signatures. */
  def sig_match_frac(a: Column, b: Column): Column =
    column(SigMatchFrac(expr(a), expr(b)))

  /** Nearest-centroid index (argmin of `|c|² − 2v·c`, ties → lowest). */
  def nearest_cell(v: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCell(expr(v), centroids))

  /** Max |xᵢ| (float) — the symmetric-quantization range. */
  def vec_max_abs(v: Column): Column = column(VectorMaxAbs(expr(v)))

  /** Symmetric int8 quantization at the given double scale. */
  def vec_quantize_i8(v: Column, scale: Column): Column =
    column(VectorQuantizeInt8(expr(v), expr(scale)))

  /** Fixed-point SQ8 asymmetric distance over (codes, query) pairs. */
  def sq_adc_dist(codes: Column, qVec: Column,
      vmin: Array[Double], vdiff: Array[Double]): Column =
    column(SqAdcDist(expr(codes), expr(qVec), vmin, vdiff))

  /** Matrix–vector product with a float matrix reference object. */
  def mat_vec_f(v: Column, mat: Array[Array[Float]]): Column =
    column(MatVecFloat(expr(v), mat))

  /** Per-query fixed-point ADC distance table over a served codebook. */
  def pq_dist_table(qVec: Column, served: Array[Array[Array[Double]]]): Column =
    column(PqDistTable(expr(qVec), served))

  /** ADC pair cost: Σ_j dtab[j·ksub + codes_j], exact long fold. */
  def pq_adc_dist(codes: Column, dtab: Column, ksub: Int): Column =
    column(PqAdcDist(expr(codes), expr(dtab), ksub))

  /** Element-wise float difference (zip_with (a,b) => a−b semantics). */
  def vec_sub_f(a: Column, b: Column): Column =
    column(VectorSubFloat(expr(a), expr(b)))

  /** Unit normalization x/‖x‖, one pass. */
  def unit_normalize(v: Column): Column = column(UnitNormalize(expr(v)))

  /** SQ8 encode under trained [min, max] ranges. */
  def sq_encode(v: Column, vmin: Array[Double], vdiff: Array[Double]): Column =
    column(SqEncode(expr(v), vmin, vdiff))

  /** Hamming distance over packed-word code arrays. */
  def hamming_words(a: Column, b: Column): Column =
    column(HammingWords(expr(a), expr(b)))

  /** Sign-bit packing against per-dimension means (60-bit words). */
  def bin_sign_pack(v: Column, means: Array[Double]): Column =
    column(BinSignPack(expr(v), means))
}
