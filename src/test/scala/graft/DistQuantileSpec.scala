package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.DistQuantile

/** Differential gate for the distributed exact-quantile operator: its
  * values must equal Spark's exact `percentile` (the value the DuckDB
  * `quantile_cont` oracle is green against) on every distribution shape
  * that stresses the histogram refinement — uniform, heavy duplicates,
  * skew, negatives, single-value bins.
  */
class DistQuantileSpec extends SparkSpec {
  import spark.implicits._

  /** The exact values at `ranks`, with the refinement knobs the
    * quartile API fixes left open so small inputs force deep searches. */
  private def valuesAtRanks(df: DataFrame, c: String, ranks: Seq[Long],
                            buckets: Int = 4096,
                            collectThreshold: Int = 100000)
      : Map[Long, Double] = {
    val (base, n, lo, hi) = DistQuantile.headPass(df, c)
    DistQuantile.resolveRanks(base, c, n, lo, hi, ranks, buckets,
      collectThreshold, maxLevels = 8)
  }

  private def exactViaBuiltin(values: Seq[Double]): (Double, Double, Double) = {
    val r = values.toDF("v")
      .agg(percentile(col("v"), array(lit(0.25), lit(0.5), lit(0.75))))
      .head().getSeq[Double](0)
    (r(0), r(1), r(2))
  }

  private def viaDist(values: Seq[Double],
                      buckets: Int = 64,
                      collectThreshold: Int = 8): (Double, Double, Double) = {
    val df = values.toDF("v")
    val n = values.size.toLong
    val idx = Seq(0.25, 0.5, 0.75).map(_ * (n - 1))
    val ranks = idx.flatMap(i =>
      Seq(math.floor(i).toLong, math.ceil(i).toLong)).distinct
    val at = valuesAtRanks(df, "v", ranks,
      buckets = buckets, collectThreshold = collectThreshold)
    val q = idx.map { i =>
      val lo = at(math.floor(i).toLong)
      val hi = at(math.ceil(i).toLong)
      lo + (hi - lo) * (i - math.floor(i))
    }
    (q(0), q(1), q(2))
  }

  private def check(values: Seq[Double]): Unit = {
    val (e1, e2, e3) = exactViaBuiltin(values)
    val (d1, d2, d3) = viaDist(values)
    // the dist path interpolates the same two exact rank values the
    // builtin does — agreement is to FP round-off, not an approximation
    assert(math.abs(d1 - e1) < 1e-9, s"p25 $d1 vs $e1 (n=${values.size})")
    assert(math.abs(d2 - e2) < 1e-9, s"p50 $d2 vs $e2")
    assert(math.abs(d3 - e3) < 1e-9, s"p75 $d3 vs $e3")
  }

  test("uniform random (forces multi-level refinement at tiny threshold)") {
    val rnd = new scala.util.Random(11)
    check(Seq.fill(500)(rnd.nextDouble() * 1000 - 500))
  }

  test("heavy duplicates (one value dominates its bin past the threshold)") {
    val rnd = new scala.util.Random(12)
    check(Seq.fill(300)(42.0) ++ Seq.fill(200)(rnd.nextDouble() * 10))
  }

  test("skewed (lognormal-ish tail)") {
    val rnd = new scala.util.Random(13)
    check(Seq.fill(400)(math.exp(rnd.nextGaussian() * 2)))
  }

  test("all values equal (degenerate range resolves immediately)") {
    check(Seq.fill(100)(7.25))
  }

  test("tiny inputs and exact-index quartiles") {
    check(Seq(1.0))
    check(Seq(2.0, 1.0))
    check(Seq(3.0, 1.0, 2.0))
    check((1 to 5).map(_.toDouble))  // p25/p50/p75 land ON ranks
    check((1 to 101).map(_.toDouble))
  }

  test("negatives and mixed magnitudes") {
    val rnd = new scala.util.Random(14)
    check(Seq.fill(250)(rnd.nextGaussian() * 1e6) ++
      Seq.fill(250)(rnd.nextGaussian() * 1e-3))
  }

  test("infinite values fail fast with an actionable message") {
    val df = Seq(1.0, 2.0, Double.PositiveInfinity).toDF("v")
    val e = intercept[IllegalArgumentException] {
      valuesAtRanks(df, "v", Seq(1L))
    }
    assert(e.getMessage.contains("infinite"))
  }

  test("valuesAtRanks hits exact order statistics at the extremes") {
    val values = new scala.util.Random(15).shuffle((1 to 1000).toList)
      .map(_.toDouble)
    val at = valuesAtRanks(values.toDF("v"), "v",
      Seq(0L, 499L, 999L), buckets = 32, collectThreshold = 16)
    assert(at(0L) == 1.0)
    assert(at(499L) == 500.0)
    assert(at(999L) == 1000.0)
  }
}
