package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.Clean

/** Cluster-output operators (SURVEY.md §2.4 A13/A14, §2.6 O5) — how every
  * reference result is consumed (`word2vec_dbscan_approach.ipynb:30148-30218`).
  *
  * Input contract: a frame with a cluster-label column, a message column and
  * a stable id column. All stats are per-label aggregates: one shuffle on
  * label; the window that picks "first entry per cluster" also partitions by
  * label so it shares that shuffle.
  */
object ClusterStats {

  /** A13 per-cluster stats: size, representative (first-by-id) message,
    * mean/std message length, mean/std fuzzy similarity of each member to
    * the representative; ordered by mean similarity (O5).
    *
    * Variance uses the exact-sum formula (sum, sum of squares) rather than
    * a streaming stddev so results are order-independent: lengths are ints
    * (exact), fuzz ratios are routed through decimal(18,6) before summing —
    * (18,6)×(18,6) stays within the 38-digit decimal cap, so the squared
    * sum is exact too. Sample (n-1) variance matches statistics.stdev. */
  def stats(df: DataFrame, labelCol: String, msgCol: String,
            idCol: String): DataFrame = {
    val w = Window.partitionBy(col(labelCol)).orderBy(col(idCol))
    val withFirst = df
      .withColumn("first_msg", first(col(msgCol)).over(w))
      .withColumn("msg_len", length(col(msgCol)).cast("long"))
      .withColumn("fuzz",
        Clean.fuzzRatio(col(msgCol), col("first_msg")).cast("decimal(18,6)"))
    withFirst
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n"),
        min("first_msg").as("first_msg"),
        sum("msg_len").as("len_sum"),
        sum(col("msg_len") * col("msg_len")).as("len_sq_sum"),
        sum("fuzz").as("fuzz_sum"),
        sum(col("fuzz") * col("fuzz")).as("fuzz_sq_sum"))
      .select(
        col(labelCol), col("n"), col("first_msg"),
        (col("len_sum").cast("double") / col("n")).as("mean_len"),
        sampleStd("len_sum", "len_sq_sum").as("std_len"),
        (col("fuzz_sum").cast("double") / col("n")).as("mean_similarity"),
        sampleStd("fuzz_sum", "fuzz_sq_sum").as("std_similarity"))
      .orderBy(col("mean_similarity"), col(labelCol))
  }

  /** sqrt((sq_sum - sum^2/n) / (n-1)), null for n<2 — exact-input sample
    * stddev identical across engines because the sums are exact. */
  private def sampleStd(sumCol: String, sqSumCol: String) = {
    val s = col(sumCol).cast("double")
    val sq = col(sqSumCol).cast("double")
    val n = col("n").cast("double")
    when(col("n") < 2, lit(null).cast("double"))
      .otherwise(sqrt(greatest((sq - s * s / n) / (n - lit(1.0)), lit(0.0))))
  }

  /** [[stats]] over (id, message, label) rows already on the driver (the
    * flagship's reference-scale route), as a local relation: no job. Each
    * row equals [[stats]]' bit for bit because it repeats the same exact
    * arithmetic — code-point `length`, [[Clean.fuzzRatio]]'s formula over
    * graft.expr.Lev.dist, the decimal(18,6) HALF_UP cast through Spark's
    * own Decimal, exact decimal sums, the same double formulas, and the
    * (mean_similarity, label) order. The schema is [[stats]]' over a
    * non-null long label. Ids must be unique and messages non-null. */
  def local(spark: SparkSession, ids: Array[Long], msgs: Array[String],
            labels: Array[Long]): DataFrame = {
    def codePoints(m: String): Int = m.codePointCount(0, m.length)
    val rows = ids.indices.groupBy(labels(_)).toSeq.map { case (label, idx) =>
      val first = msgs(idx.minBy(ids(_)))
      val lb = codePoints(first)
      var lenSum, lenSqSum = 0L
      var fuzzSum, fuzzSqSum = java.math.BigDecimal.ZERO
      idx.foreach { i =>
        val la = codePoints(msgs(i))
        lenSum += la
        lenSqSum += la.toLong * la
        val ratio =
          if (la + lb == 0) 100.0
          else 100.0 * (la + lb - graft.expr.Lev.dist(msgs(i), first)) / (la + lb)
        val fuzz = Decimal(ratio)
        fuzz.changePrecision(18, 6) // Cast's HALF_UP rounding
        val f = fuzz.toJavaBigDecimal
        fuzzSum = fuzzSum.add(f)
        fuzzSqSum = fuzzSqSum.add(f.multiply(f))
      }
      val n = idx.length.toLong
      val fs = Decimal(fuzzSum).toDouble
      Row(label, n, first, lenSum.toDouble / n,
        localSampleStd(lenSum.toDouble, lenSqSum.toDouble, n),
        fs / n, localSampleStd(fs, Decimal(fuzzSqSum).toDouble, n))
    }.sortBy(r => (r.getDouble(5), r.getLong(0)))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("label", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("first_msg", StringType),
      StructField("mean_len", DoubleType),
      StructField("std_len", DoubleType),
      StructField("mean_similarity", DoubleType),
      StructField("std_similarity", DoubleType))))
  }

  /** [[sampleStd]] on the driver: `greatest` keeps its first argument
    * unless the second is strictly greater, hence `v < 0.0`. */
  private def localSampleStd(s: Double, sq: Double, n: Long): java.lang.Double =
    if (n < 2) null
    else {
      val v = (sq - s * s / n) / (n - 1.0)
      math.sqrt(if (v < 0.0) 0.0 else v)
    }

  /** A14 cluster membership listing: ordered member messages per label. */
  def members(df: DataFrame, labelCol: String, msgCol: String,
              idCol: String): DataFrame =
    df.groupBy(col(labelCol))
      .agg(sort_array(collect_list(struct(col(idCol), col(msgCol))))
        .getField(msgCol).as("members"))
      .orderBy(col(labelCol))

  /** A14 single-cluster filter form (`print_cluster`). */
  def membersOf(df: DataFrame, labelCol: String, label: Int,
                msgCol: String, idCol: String): DataFrame =
    df.filter(col(labelCol) === label)
      .select(col(idCol), col(msgCol)).orderBy(col(idCol))
}
