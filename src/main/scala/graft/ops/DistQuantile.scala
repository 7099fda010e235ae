package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed EXACT quantiles — the 100-TB-safe exact path the A6
  * family previously lacked (reference semantics: pandas
  * `quantile`/`describe`, rucio_data_exploration.ipynb:607).
  *
  * Spark's exact `percentile` is a TypedImperativeAggregate whose buffer
  * holds every distinct (value, count) of the column and merges in ONE
  * final task — exact, but a single-task column materialization at
  * scale. `approx_percentile` is one-pass and bounded but approximate.
  * This operator is BOTH exact and bounded: iterated histogram
  * refinement (the classic binary-search-on-counts scheme):
  *
  *   1. one pass: count / min / max of the column;
  *   2. per refinement level, ONE pass histograms every still-active
  *      search state into `buckets` equal-width bins — the shuffle
  *      carries ≤ states×buckets narrow (state, bucket, count) rows,
  *      never values — and the driver walks the (tiny) histogram to find
  *      the bin holding each target rank;
  *   3. when a state's bin population ≤ `collectThreshold`, one final
  *      pass collects JUST the terminal bins' values (bounded by
  *      construction; all terminal bins of a level share the one pass)
  *      and reads the exact rank values out of the sorted slices.
  *
  * Every rank lands in ≤ `maxLevels` + 2 full scans of a single pruned
  * column, all aggregation is map-side partial, the driver holds
  * O(states × buckets) longs — nothing anywhere materializes the column.
  * Bin membership predicates reuse the EXACT bucket arithmetic that
  * built the histogram (conjunction along the refinement path), so FP
  * edge cases cannot drop or double-count a value between passes.
  *
  * Interpolation matches Spark's exact percentile (and DuckDB's
  * `quantile_cont`): index p·(n−1), linear between the two neighboring
  * ranks — so results hash-match the a6_quantiles oracle bit-for-bit
  * after the same 1e-6 quantization.
  */
object DistQuantile {

  /** One search state: a target 0-based rank, the conjunction of bucket
    * predicates narrowing to its current bin, how many values precede
    * the bin, and how many sit inside it. */
  private final case class RankState(rank: Long, pred: Column,
                                     countBelow: Long, inBin: Long)

  /** The one (count, min, max) pass every search starts from: it also
    * gives [[quantiles]] the n its probability → rank derivation needs,
    * so no separate count pass runs. Returns (non-null values, n, min,
    * max). */
  private[graft] def headPass(df: DataFrame, c: String)
      : (DataFrame, Long, Double, Double) = {
    val v = col(c).cast("double")
    val base = df.select(v.as("v")).filter(v.isNotNull && !isnan(v))
    val head = base.agg(count(lit(1)).as("n"), min("v").as("lo"),
      max("v").as("hi")).head()
    val n = head.getLong(0)
    require(n > 0, s"no non-null values in $c")
    (base, n, head.getDouble(1), head.getDouble(2))
  }

  /** Exact values at the given 0-based ranks of the sorted non-null
    * column. Driver memory: O(ranks × buckets) counters + one
    * ≤ collectThreshold slice per distinct terminal bin. */
  private[graft] def resolveRanks(base: DataFrame, c: String, n: Long,
                                  globalLo: Double, globalHi: Double,
                                  ranks: Seq[Long], buckets: Int,
                                  collectThreshold: Int, maxLevels: Int)
      : Map[Long, Double] = {
    require(ranks.nonEmpty)
    ranks.foreach(r => require(r >= 0 && r < n, s"rank $r out of [0,$n)"))
    // ±Inf breaks equal-width bucketing (every value lands in bucket 0 and
    // the range never narrows) — fail fast with a actionable message
    // instead of a non-convergence error 8 levels later
    require(!globalLo.isInfinite && !globalHi.isInfinite,
      s"$c contains infinite values; DistQuantile requires finite input " +
        "(filter infinities first, as with nulls/NaN)")

    // bucket index of a value within [lo,hi]: equal-width floor division,
    // top edge clamped into the last bin. The SAME expression narrows the
    // next level's membership, so pass-to-pass consistency is structural.
    def bucketOf(value: Column, lo: Double, hi: Double): Column =
      least(greatest(floor((value - lit(lo)) / lit(hi - lo) * lit(buckets))
        .cast("int"), lit(0)), lit(buckets - 1))

    var states = ranks.distinct.map(r =>
      RankState(r, lit(true), 0L, n) -> (globalLo, globalHi)).toBuffer
    var level = 0
    val resolved = scala.collection.mutable.Map[Long, Double]()

    while (states.nonEmpty && level < maxLevels) {
      // degenerate ranges (all values equal) resolve immediately
      val (flat, live) = states.partition { case (_, (lo, hi)) => lo >= hi }
      flat.foreach { case (s, (lo, _)) => resolved(s.rank) = lo }
      val big = live.filter(_._1.inBin > collectThreshold)
      val small = live.filterNot(_._1.inBin > collectThreshold)
      // terminal states: collect every terminal bin's (bounded) values in
      // ONE combined pass — each row emits the group ids of the bins it
      // sits in — instead of one full filtered scan per distinct bin
      // (three quartile ranks usually land in three bins: that was three
      // extra column scans per level). The slice is shared across ranks
      // that landed in the same bin, as before.
      val groups = small.groupBy(_._1.pred.toString).values.toSeq
      if (groups.nonEmpty) {
        val tags = groups.zipWithIndex.map { case (g, i) =>
          when(g.head._1.pred, lit(i))
        }
        val byGid = base
          .select(explode(array(tags: _*)).as("gid"), col("v"))
          .filter(col("gid").isNotNull)
          .collect()
          .groupBy(_.getInt(0))
        groups.zipWithIndex.foreach { case (group, i) =>
          val values = byGid(i).map(_.getDouble(1)).sorted
          group.foreach { case (s, _) =>
            resolved(s.rank) = values((s.rank - s.countBelow).toInt)
          }
        }
      }
      states = big
      if (states.nonEmpty) {
        // one scan histograms ALL active states: each row emits its
        // bucket for every state bin it sits in (states can overlap
        // early; ≤ a handful in practice). Per-bin min/max ride along in
        // the same aggregation: a bin whose values are ALL EQUAL (the
        // heavy-duplicate case — a median sitting on a repeated value)
        // resolves immediately instead of refining forever, and
        // [min,max] is the tightest next-level range.
        val tagged = states.zipWithIndex.map { case ((s, (lo, hi)), i) =>
          struct(lit(i).as("sid"),
            when(s.pred, bucketOf(col("v"), lo, hi)).as("b"))
        }
        val hist = base
          .select(col("v"), explode(array(tagged.toSeq: _*)).as("t"))
          .filter(col("t.b").isNotNull)
          .groupBy(col("t.sid").as("sid"), col("t.b").as("b"))
          .agg(count(lit(1)).as("cnt"), min("v").as("mn"), max("v").as("mx"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (sid, rows) =>
            sid -> rows.map(r =>
              (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
              .sortBy(_._1)
          }
        states = states.zipWithIndex.flatMap { case ((s, (lo, hi)), i) =>
          val bins = hist(i)
          var below = s.countBelow
          var bi = 0
          while (below + bins(bi)._2 <= s.rank) { below += bins(bi)._2; bi += 1 }
          val (b, cnt, mn, mx) = bins(bi)
          if (mn == mx) { resolved(s.rank) = mn; None }
          else {
            val newPred = s.pred && bucketOf(col("v"), lo, hi) === lit(b)
            Some(RankState(s.rank, newPred, below, cnt) -> (mn, mx))
          }
        }
      }
      level += 1
    }
    // unreachable in practice: maxLevels × log2(buckets) levels exceed
    // double precision, so min==max fires first; guard anyway
    require(states.isEmpty,
      s"quantile refinement did not converge in $maxLevels levels")
    resolved.toMap
  }

  /** A6 quartiles via [[resolveRanks]] — exact `percentile` semantics
    * (index p·(n−1), linear interpolation), 1e-6-quantized like the
    * fixture-contract form, as a 1-row literal frame (the result of a
    * fully distributed computation; only O(1) values reach the driver).
    */
  def quantiles(spark: SparkSession, df: DataFrame, c: String,
                probs: Seq[(Double, String)] = Seq(0.25 -> "p25",
                  0.5 -> "p50", 0.75 -> "p75")): DataFrame = {
    // n comes from the SAME (count, min, max) head pass the rank search
    // starts from — a separate count() here was a second full scan of
    // the column answering the question the head already answers
    val (base, n, lo, hi) = headPass(df, c)
    val idx = probs.map { case (p, _) => p * (n - 1) }
    val ranks = idx.flatMap(i =>
      Seq(math.floor(i).toLong, math.ceil(i).toLong)).distinct
    val at = resolveRanks(base, c, n, lo, hi, ranks,
      buckets = 4096, collectThreshold = 100000, maxLevels = 8)
    val cols = probs.zip(idx).map { case ((_, name), i) =>
      val floorV = at(math.floor(i).toLong)
      val ceilV = at(math.ceil(i).toLong)
      val exact = floorV + (ceilV - floorV) * (i - math.floor(i))
      (round(lit(exact) * 1e6) / 1e6).as(name)
    }
    import spark.implicits._
    Seq(1).toDF("_one").select(cols: _*)
  }
}
