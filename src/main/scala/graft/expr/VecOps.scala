package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector kernels over `array<float|double>` columns.
  *
  * The interpreted higher-order-function formulation
  * (`aggregate(zip_with(...))`) dispatches a lambda per array element and
  * dominated flagship-scale profiles (all 32 workers inside
  * `ZipWith.eval`/`ArrayAggregate.eval`); these compile to one tight loop
  * and stay inside whole-stage codegen — the same playbook as
  * [[MinHashSig]] (44 s → 0.8 s).
  *
  * Bit-compat contract (WELL-FORMED inputs: equal-length arrays, no null
  * elements): each accumulator sums in ARRAY ORDER with plain
  * left-associated double adds, exactly like the HOF fold it replaces, so
  * every DuckDB oracle built against the HOF results still hash-matches.
  * Degenerate inputs differ DELIBERATELY from the HOF form: a length
  * mismatch fails fast with IllegalArgumentException (the HOF null-padded
  * and returned NULL — silently hiding ragged embeddings), and null
  * ELEMENTS are not supported (ArrayData.toDoubleArray reads them as 0.0;
  * validate upstream — null top-level arrays still propagate NULL).
  */
abstract class VecBinaryKernel extends BinaryExpression {

  protected def kernelName: String // method on graft.expr.VecKernels

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> args, " +
        s"got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val da = VecKernels.asDoubles(a.asInstanceOf[ArrayData], isFloat(left))
    val db = VecKernels.asDoubles(b.asInstanceOf[ArrayData], isFloat(right))
    kernel(da, db)
  }

  protected def kernel(a: Array[Double], b: Array[Double]): Double

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.expr.VecKernels.$kernelName(
         |  graft.expr.VecKernels.asDoubles($a, ${isFloat(left)}),
         |  graft.expr.VecKernels.asDoubles($b, ${isFloat(right)}));""".stripMargin)
}

/** Σ aᵢ·bᵢ (doubles, array order). */
case class GraftDot(left: Expression, right: Expression)
  extends VecBinaryKernel {
  override def prettyName: String = "graft_dot"
  override protected def kernelName: String = "dot"
  override protected def kernel(a: Array[Double], b: Array[Double]): Double =
    VecKernels.dot(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : GraftDot = copy(left = l, right = r)
}

/** √Σ (aᵢ−bᵢ)² — Euclidean distance. */
case class GraftL2Dist(left: Expression, right: Expression)
  extends VecBinaryKernel {
  override def prettyName: String = "graft_l2_dist"
  override protected def kernelName: String = "l2Dist"
  override protected def kernel(a: Array[Double], b: Array[Double]): Double =
    VecKernels.l2Dist(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : GraftL2Dist = copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)² — SQUARED Euclidean distance (no sqrt), the ε²-threshold
  * compare form DBSCAN's edge verify uses. */
case class GraftL2Sq(left: Expression, right: Expression)
  extends VecBinaryKernel {
  override def prettyName: String = "graft_l2_sq"
  override protected def kernelName: String = "l2Sq"
  override protected def kernel(a: Array[Double], b: Array[Double]): Double =
    VecKernels.l2Sq(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : GraftL2Sq = copy(left = l, right = r)
}

/** Cosine similarity with the zero-norm guard (M11): 0.0 when either side
  * has zero norm. One fused loop for dot, ‖a‖², ‖b‖² (the composed form
  * scans both arrays three times). */
case class GraftCosSim(left: Expression, right: Expression)
  extends VecBinaryKernel {
  override def prettyName: String = "graft_cos_sim"
  override protected def kernelName: String = "cosSim"
  override protected def kernel(a: Array[Double], b: Array[Double]): Double =
    VecKernels.cosSim(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : GraftCosSim = copy(left = l, right = r)
}

/** Per-vector symmetric int8 quantization as ONE compiled pass:
  * codes = round(x / (max|x|/127)), all-zero input → all-zero codes.
  * The HOF formulation (`transform(vec, x -> round(x/scale))` plus an
  * `array_max(transform(abs))` for the scale) dispatches interpreted
  * lambdas per element — measured 5.1 s vs 0.77 s for the FLOAT scan at
  * the ×100 corpus, i.e. the prep cost buried the kernel it feeds. */
case class GraftQuantizeI8(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "graft_quantize_i8"
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)
  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got $other")
  }
  override protected def nullSafeEval(input: Any): Any =
    VecKernels.quantizeI8(
      VecKernels.asDoubles(input.asInstanceOf[ArrayData], isFloat))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.VecKernels.quantizeI8(" +
        s"graft.expr.VecKernels.asDoubles($c, $isFloat));")
  override protected def withNewChildInternal(newChild: Expression)
      : GraftQuantizeI8 = copy(child = newChild)
}

/** Cosine over int8-quantized code arrays (`array<tinyint>`) — the
  * serving-side kernel for 4×-compressed embeddings ([[graft.dedup
  * .Similarity.quantizeInt8]]): integer multiply-accumulate (a 64-dim
  * dot of ±127 codes peaks at ~10⁶ per term — long accumulators never
  * overflow), one divide at the end. Per-vector symmetric quantization
  * scales cancel in the cosine, so no scale column is needed here. Same
  * zero-norm guard as [[GraftCosSim]]. */
case class GraftCosSimI8(left: Expression, right: Expression)
  extends BinaryExpression {
  override def prettyName: String = "graft_cos_sim_i8"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(org.apache.spark.sql.types.ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<tinyint> args, " +
        s"got (${left.dataType}, ${right.dataType})")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosSimI8(a.asInstanceOf[ArrayData].toByteArray(),
      b.asInstanceOf[ArrayData].toByteArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.VecKernels.cosSimI8(" +
        s"$a.toByteArray(), $b.toByteArray());")
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : GraftCosSimI8 = copy(left = l, right = r)
}

object VecKernels {

  /** Normalize an ArrayData to double[] (float→double is exact). */
  def asDoubles(arr: ArrayData, isFloat: Boolean): Array[Double] =
    if (isFloat) {
      val f = arr.toFloatArray()
      val d = new Array[Double](f.length)
      var i = 0
      while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
      d
    } else arr.toDoubleArray()

  private def checkLen(a: Array[Double], b: Array[Double]): Unit =
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"vector length mismatch: ${a.length} vs ${b.length}")

  def dot(a: Array[Double], b: Array[Double]): Double = {
    checkLen(a, b)
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def l2Dist(a: Array[Double], b: Array[Double]): Double = {
    checkLen(a, b)
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    Math.sqrt(s)
  }

  /** Σ (aᵢ−bᵢ)² without the sqrt — for squared-threshold compares
    * (`l2sq < ε²`), which must stay bit-identical to the textbook
    * `dist² < ε²` form: rounding the sqrt first can flip an
    * ultra-marginal ε-boundary pair. Same loop order as [[l2Dist]]. */
  def l2Sq(a: Array[Double], b: Array[Double]): Double = {
    checkLen(a, b)
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The `k` rows of `mat` nearest to `v` (Euclidean, [[l2Dist]]), as
    * (row indices, distances) sorted ascending by (dist, idx): a bounded
    * max-heap select, O(m·d + m·log k), so ties on distance resolve to
    * the smaller idx. Shared by the `graft_nn_topk` expression and the
    * driver-side kNN curve. */
  def topK(v: Array[Double], mat: Array[Array[Double]], k: Int)
      : (Array[Int], Array[Double]) = {
    val m = mat.length
    val kk = math.min(k, m)
    // bounded max-heap on (dist, idx): root = current worst of the best k
    val hd = new Array[Double](kk)
    val hi = new Array[Int](kk)
    var size = 0
    def worse(d1: Double, i1: Int, d2: Double, i2: Int): Boolean =
      d1 > d2 || (d1 == d2 && i1 > i2)
    var r = 0
    while (r < m) {
      val d = l2Dist(v, mat(r))
      if (size < kk) {
        var c = size; hd(c) = d; hi(c) = r; size += 1
        while (c > 0 && worse(hd(c), hi(c), hd((c - 1) / 2), hi((c - 1) / 2))) {
          val p = (c - 1) / 2
          val td = hd(c); hd(c) = hd(p); hd(p) = td
          val ti = hi(c); hi(c) = hi(p); hi(p) = ti
          c = p
        }
      } else if (worse(hd(0), hi(0), d, r)) {
        hd(0) = d; hi(0) = r
        var c = 0
        var done = false
        while (!done) {
          val l = 2 * c + 1; val rr = 2 * c + 2
          var w = c
          if (l < kk && worse(hd(l), hi(l), hd(w), hi(w))) w = l
          if (rr < kk && worse(hd(rr), hi(rr), hd(w), hi(w))) w = rr
          if (w == c) done = true
          else {
            val td = hd(c); hd(c) = hd(w); hd(w) = td
            val ti = hi(c); hi(c) = hi(w); hi(w) = ti
            c = w
          }
        }
      }
      r += 1
    }
    // heap -> ascending (dist, idx)
    val order = (0 until size).sortBy(i => (hd(i), hi(i)))
    (order.map(hi(_)).toArray, order.map(hd(_)).toArray)
  }

  def quantizeI8(v: Array[Double]): ArrayData = {
    var mx = 0.0
    var i = 0
    while (i < v.length) { val a = Math.abs(v(i)); if (a > mx) mx = a; i += 1 }
    val out = new Array[Byte](v.length)
    if (mx > 0.0) {
      val s = mx / 127.0
      i = 0
      // Math.rint = HALF_EVEN, matching Spark's round() on doubles closely
      // enough for codes; exact tie behavior is irrelevant post-gate
      while (i < v.length) { out(i) = Math.rint(v(i) / s).toByte; i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def cosSimI8(a: Array[Byte], b: Array[Byte]): Double = {
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"vector length mismatch: ${a.length} vs ${b.length}")
    var ab = 0L; var aa = 0L; var bb = 0L
    var i = 0
    while (i < a.length) {
      ab += a(i).toLong * b(i); aa += a(i).toLong * a(i)
      bb += b(i).toLong * b(i); i += 1
    }
    if (aa == 0L || bb == 0L) 0.0
    else ab / (Math.sqrt(aa.toDouble) * Math.sqrt(bb.toDouble))
  }

  def cosSim(a: Array[Double], b: Array[Double]): Double = {
    checkLen(a, b)
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
    }
    val na = Math.sqrt(aa)
    val nb = Math.sqrt(bb)
    if (na == 0.0 || nb == 0.0) 0.0 else ab / (na * nb)
  }
}
