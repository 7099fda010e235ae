package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native vector kernels (GraftDot/GraftL2Dist/GraftCosSim): bit-compat
  * with the interpreted HOF formulation they replaced, plus guards. */
class VecOpsSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def vecF(n: Int): Seq[Float] =
    Seq.fill(n)(rnd.nextFloat() * 2 - 1)

  test("dot / l2_dist / cos_sim are bit-identical to the HOF fold") {
    GraftFunctions.ensureRegistered(spark)
    val rows = Seq.fill(50)((vecF(16), vecF(16)))
    val df = rows.toDF("a", "b")
    // the formulation the kernels replaced (ordered double fold)
    val hofDot = aggregate(
      zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val hofDist = sqrt(aggregate(
      zip_with($"a", $"b", (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v))
    def hofDotSelf(c: String) = aggregate(
      zip_with(col(c), col(c), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val hofCos = hofDot / (sqrt(hofDotSelf("a")) * sqrt(hofDotSelf("b")))
    val got = df.select(
      call_function("graft_dot", $"a", $"b").as("d"),
      call_function("graft_l2_dist", $"a", $"b").as("l"),
      call_function("graft_cos_sim", $"a", $"b").as("c"),
      hofDot.as("hd"), hofDist.as("hl"), hofCos.as("hc"))
      .as[(Double, Double, Double, Double, Double, Double)].collect()
    got.foreach { case (d, l, c, hd, hl, hc) =>
      assert(d == hd, "dot must match the HOF fold bit-for-bit")
      assert(l == hl, "l2_dist must match the HOF fold bit-for-bit")
      assert(c == hc, "cos_sim must match the composed form bit-for-bit")
    }
  }

  test("l2_sq is the exact square of l2_dist's pre-sqrt accumulator") {
    GraftFunctions.ensureRegistered(spark)
    val rows = Seq.fill(50)((vecF(16), vecF(16)))
    val got = rows.toDF("a", "b").select(
      call_function("graft_l2_sq", $"a", $"b").as("sq"),
      call_function("graft_l2_dist", $"a", $"b").as("l"))
      .as[(Double, Double)].collect()
    got.foreach { case (sq, l) =>
      // same loop, same order — l2_dist is EXACTLY sqrt(l2_sq), so the
      // squared form lets callers do the bit-stable `sq < eps²` compare
      assert(l == math.sqrt(sq))
    }
    // the SQL path agrees with the JVM kernel bit-for-bit on the same
    // inputs (a wrong kernelName in codegen would diverge here)
    val sqlOne = Seq((Seq(1.0f, 2.0f), Seq(4.0f, 6.0f))).toDF("a", "b")
      .select(call_function("graft_l2_sq", $"a", $"b"))
      .as[Double].head()
    assert(sqlOne == graft.expr.VecKernels.l2Sq(
      Array(1.0, 2.0), Array(4.0, 6.0)))
    assert(sqlOne == 25.0)
  }

  test("double arrays work; float vs double agree on exact values") {
    GraftFunctions.ensureRegistered(spark)
    val a = Seq(1.0f, 2.0f, 3.0f)
    val b = Seq(0.5f, -1.0f, 2.0f)
    val fd = Seq((a, b)).toDF("a", "b")
      .select(call_function("graft_dot", $"a", $"b")).head().getDouble(0)
    val dd = Seq((a.map(_.toDouble), b.map(_.toDouble))).toDF("a", "b")
      .select(call_function("graft_dot", $"a", $"b")).head().getDouble(0)
    assert(fd == dd && fd == 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)
  }

  test("cos_sim zero-norm guard (M11) and null propagation") {
    GraftFunctions.ensureRegistered(spark)
    val z = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      .select(call_function("graft_cos_sim", $"a", $"b")).head().getDouble(0)
    assert(z == 0.0)
    val n = Seq((Option.empty[Seq[Float]], Some(Seq(1.0f)))).toDF("a", "b")
      .select(call_function("graft_cos_sim", $"a", $"b")).head()
    assert(n.isNullAt(0))
  }

  test("cellDoubles widens float cells and names any other element type") {
    import org.apache.spark.sql.Row
    assert(VecKernels.cellDoubles(Row(7L, Seq(1.5f, -2f)), 1).toSeq ==
      Seq(1.5, -2.0))
    assert(VecKernels.cellDoubles(Row(Seq(0.25, 3.0)), 0).toSeq ==
      Seq(0.25, 3.0))
    val e = intercept[IllegalArgumentException](
      VecKernels.cellDoubles(Row(Seq(1, 2)), 0))
    assert(e.getMessage.contains("java.lang.Integer"), e.getMessage)
  }

  test("length mismatch fails fast") {
    GraftFunctions.ensureRegistered(spark)
    val ex = intercept[Exception] {
      Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
        .select(call_function("graft_l2_dist", $"a", $"b")).collect()
    }
    assert(ex.getMessage != null)
  }
}
