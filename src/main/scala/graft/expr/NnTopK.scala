package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_nn_topk(vec, mat, k)` — the k nearest rows of a FOLDABLE matrix
  * literal to the row's vector, as `array<struct<idx:int, dist:double>>`
  * sorted ascending by (dist, idx). Euclidean metric, identical summation
  * order to [[GraftL2Dist]] (bit-compat with the join+window formulation
  * it replaces).
  *
  * Why an expression and not a join: brute-force kNN against a
  * driver-sized reference set (a curve sample, DBSCAN core points, IVF
  * probes) as a BroadcastNestedLoopJoin MATERIALIZES n·m joined rows just
  * to rank and discard them — the row-copy dominates the distance
  * arithmetic. Here the m reference vectors ride the plan as one Literal,
  * each input row does one compiled heap-select pass (O(m·d + m·log k),
  * zero intermediate rows), and the scan stays embarrassingly parallel —
  * the shape that survives 100 TB is "per-row kernel against broadcast
  * state", not "n·m rows through an operator". CodegenFallback is
  * deliberate: per-call work is a compiled O(m·d) loop, so the virtual
  * eval dispatch is noise.
  *
  * Ties on distance resolve to the smaller idx, so callers encode their
  * tie-break key in matrix ORDER (e.g. rows sorted by id). */
case class NnTopK(vec: Expression, mat: Expression, k: Int)
  extends Expression with CodegenFallback {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(vec, mat)
  override def nullable: Boolean = vec.nullable
  override def prettyName: String = "graft_nn_topk"

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val matOk = mat.dataType match {
      case ArrayType(ArrayType(FloatType, _) | ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (!vecOk || !matOk) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<array<float|double>>), " +
        s"got (${vec.dataType}, ${mat.dataType})")
    else if (!mat.foldable) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires the matrix argument to be foldable (a literal)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("idx", IntegerType, nullable = false),
      StructField("dist", DoubleType, nullable = false))),
    containsNull = false)

  // one decode per (deserialized) expression instance, shared by every row
  // the task evaluates
  @transient private lazy val matrix: Array[Array[Double]] = {
    val rowsAreFloat = mat.dataType match {
      case ArrayType(et, _) => isFloatArray(et)
      case _ => false
    }
    val ad = mat.eval(InternalRow.empty).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { i =>
      VecKernels.asDoubles(ad.getArray(i), rowsAreFloat)
    }
  }

  override def eval(input: InternalRow): Any = {
    val v0 = vec.eval(input)
    if (v0 == null) return null
    val v = VecKernels.asDoubles(v0.asInstanceOf[ArrayData],
      isFloatArray(vec.dataType))
    val (idx, dist) = VecKernels.topK(v, matrix, k)
    new GenericArrayData(Array.tabulate[Any](idx.length) { i =>
      new GenericInternalRow(Array[Any](idx(i), dist(i)))
    })
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NnTopK =
    copy(vec = newChildren(0), mat = newChildren(1))
}
