package graft.ops

import graft.{PlanShape, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RangeAggSpec extends SparkSpec {
  import spark.implicits._

  /** Class names of every extrema exec in the AQE final plan (query
    * stages included) — executes the frame first. */
  private def extremaExecs(df: DataFrame): Seq[String] =
    PlanShape.executed(df).nodes.map(_.getClass.getSimpleName)
      .filter(_.contains("Extrema"))

  test("prefix range-agg equals the pair-join-then-aggregate form (orders fixture)") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val intervals = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey".as("interval_id"),
        ($"o_totalprice" - 2000.0).as("lo"),
        ($"o_totalprice" + 2000.0).as("hi"))
    val points = o.select($"o_totalprice".as("price"))
    val got = RangeAgg.pointsInRangeAgg(points, "price",
        intervals, "interval_id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // truth pinned to the JOIN plan: since the rewrite learned the
    // keyed shape (r18) it recognizes the binned join's bin equality +
    // band as equi + band and would make this prefix-vs-prefix
    val expected = graft.SparkEntry.withAggPrefixOff(spark) {
      Relational.rangeJoinPoints(points, "price",
          intervals, "lo", "hi", binWidth = 4000.0)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("cnt"),
          graft.core.Tables.dsum($"price").as("sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(got == expected && got.nonEmpty)
  }

  test("prefix range-agg edge cases: boundary inclusivity, empty bands, inverted bands") {
    val points = Seq(1.0, 2.0, 2.0, 3.0, 10.0).toDF("v")
    val intervals = Seq(
      (1L, 2.0, 3.0),   // [2,3]: both boundaries inclusive -> 2,2,3
      (2L, 4.0, 9.0),   // empty band -> dropped
      (3L, 5.0, 4.0),   // inverted -> dropped
      (4L, 0.0, 100.0)  // everything
    ).toDF("id", "lo", "hi")
    val got = RangeAgg.pointsInRangeAgg(points, "v",
        intervals, "id", "lo", "hi")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.keySet == Set(1L, 4L))
    assert(got(1L) == ((3L, 7.0)))
    assert(got(4L) == ((5L, 18.0)))
  }

  test("prefix range-agg equals driver brute force on adversarial randoms") {
    // negatives, duplicates, -0.0, NaN points AND NaN bounds, duplicate
    // interval ids, inverted/degenerate intervals — across seeds. The
    // brute force uses Spark SQL's TOTAL-ORDER comparison semantics
    // (NaN is greater than everything and equal to itself — so a NaN
    // point qualifies exactly when hi is NaN; -0.0 == 0.0) and exact
    // decimal(18,2) cents accumulation with the null-skip a SQL sum
    // applies (cast(NaN as decimal) is null, so NaN points count but
    // don't sum).
    def sqlLe(a: Double, b: Double): Boolean =
      if (a.isNaN) b.isNaN else if (b.isNaN) true else a <= b
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val vals: Seq[Double] = (0 until 400).map { _ =>
        math.floor((rng.nextDouble() - 0.5) * 20000) / 100.0
      } ++ Seq(-0.0, 0.0, Double.NaN, Double.NaN)
      val ivs: Seq[(Long, Double, Double)] = ((0 until 60).map { i =>
        val lo = math.floor((rng.nextDouble() - 0.5) * 16000) / 100.0
        val span = (rng.nextDouble() - 0.2) * 30 // some inverted
        // duplicate ids every third interval
        ((i / 3 * 3).toLong, lo, math.floor((lo + span) * 100) / 100.0)
      } :+ ((999L, 5.0, 5.0))                // degenerate lo == hi
        :+ ((996L, Double.NaN, 3.0))         // NaN lo: only a NaN pt passes
                                             //   lo, and NaN <= 3 fails -> empty
        :+ ((997L, 5.0, Double.NaN))         // NaN hi: every pt >= 5 + NaN pts
        :+ ((998L, Double.NaN, Double.NaN))) // [NaN, NaN]: exactly the NaN pts
      // sum is Option: a group whose every qualifying point is NaN sums
      // to NULL (each cast(NaN as decimal) is null), exactly like the
      // join form — getDouble would silently fold that to 0.0
      val got = RangeAgg.pointsInRangeAgg(
          vals.toDF("v"), "v", ivs.toDF("id", "lo", "hi"), "id", "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toSet
      val expected = ivs.groupBy(_._1).flatMap { case (id, rows) =>
        var cnt = 0L
        var nonNan = 0L
        var cents = BigInt(0)
        rows.foreach { case (_, lo, hi) =>
          vals.foreach { v =>
            if (sqlLe(lo, v) && sqlLe(v, hi)) {
              cnt += 1
              if (!v.isNaN) { // sum skips the null a NaN->decimal cast makes
                nonNan += 1
                cents += java.math.BigDecimal.valueOf(v)
                  .setScale(2, java.math.RoundingMode.HALF_UP)
                  .unscaledValue()
              }
            }
          }
        }
        if (cnt > 0)
          Some((id, cnt,
            if (nonNan > 0) Some((BigDecimal(cents) / 100).toDouble) else None))
        else None
      }.toSet
      assert(got == expected, s"seed=$seed")
      assert(expected.nonEmpty, s"seed=$seed produced an empty oracle")
      // the NaN-bound intervals actually exercised the NaN tag paths
      assert(expected.exists(_._1 == 997L) && expected.exists(_._1 == 998L)
        && !expected.exists(_._1 == 996L), s"seed=$seed NaN fixture")
    }
  }

  test("prefix range-agg on FLOAT points and empty inputs") {
    val fpts = Seq(1.5f, 2.25f, 7.0f).toDF("v")
    val ivs = Seq((1L, 1.0, 3.0), (2L, 8.0, 9.0)).toDF("id", "lo", "hi")
    val got = RangeAgg.pointsInRangeAgg(fpts, "v", ivs, "id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 3.75)))
    // empty points -> every interval drops; empty intervals -> no rows
    assert(RangeAgg.pointsInRangeAgg(fpts.limit(0), "v", ivs,
      "id", "lo", "hi").count() == 0)
    assert(RangeAgg.pointsInRangeAgg(fpts, "v", ivs.limit(0),
      "id", "lo", "hi").count() == 0)
  }

  test("prefix range-agg rejects order-inexact types with a named error") {
    val pts = Seq(1L, 2L).toDF("v") // LongType: double image not exact
    val ivs = Seq((1L, 1.0, 3.0)).toDF("id", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      RangeAgg.pointsInRangeAgg(pts, "v", ivs, "id", "lo", "hi")
    }
    assert(e.getMessage.contains("order-exact"))
  }

  test("distinct-in-range: merged-segment prefix equals SQL count(DISTINCT)") {
    // duplicate interval keys with OVERLAPPING, TOUCHING, and DISJOINT
    // bands, plus duplicate point values — the exact case the rewrite
    // declines (prefix diffs sum per instance; DISTINCT unions). The
    // operator merges each key's bands first, so counts are exact.
    val pts = Seq(1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 8.0, 10.0).toDF("v")
    val ivs = Seq(
      (1L, 1.0, 3.0), (1L, 2.0, 5.0),   // overlap: union [1,5] -> {1,2,3,5}
      (2L, 1.0, 2.0), (2L, 2.0, 3.0),   // touching: union [1,3] -> {1,2,3}
      (3L, 1.0, 2.0), (3L, 8.0, 10.0),  // disjoint -> {1,2} + {8,10}
      (4L, 6.0, 7.0),                   // empty -> dropped
      (5L, 9.0, 4.0)                    // inverted -> dropped
    ).toDF("id", "lo", "hi")
    val got = RangeAgg.distinctPointsInRangeAgg(pts, "v", ivs,
        "id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 4L, 2L -> 3L, 3L -> 4L))
    // differential vs the SQL truth on the orders fixture (duplicate
    // keys arise naturally from o_custkey)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val intervals = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_custkey".as("cust_id"),
        ($"o_totalprice" - 2000.0).as("lo"),
        ($"o_totalprice" + 2000.0).as("hi"))
    val points = o.select($"o_totalprice".as("price"))
    val mine = RangeAgg.distinctPointsInRangeAgg(points, "price",
        intervals, "cust_id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = points
      .join(intervals, $"price" >= $"lo" && $"price" <= $"hi")
      .groupBy("cust_id").agg(countDistinct($"price").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mine == truth && truth.nonEmpty)
  }

  test("extrema-in-range equals min/max-over-join on the orders fixture") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val intervals = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_custkey".as("cust_id"), // duplicate keys natural here
        ($"o_totalprice" - 2000.0).as("lo"),
        ($"o_totalprice" + 2000.0).as("hi"))
    val points = o.select($"o_totalprice".as("price"))
    val got = RangeAgg.extremaInRangeAgg(points, "price",
        intervals, "cust_id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val truth = points
      .join(intervals, $"price" >= $"lo" && $"price" <= $"hi")
      .groupBy("cust_id")
      .agg(min($"price").as("min_v"), max($"price").as("max_v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == truth && truth.nonEmpty)
    // one value scan (f = pt) answers min and max: exactly one
    // RangeValueExtremaExec, no predecessor-scan exec
    assert(extremaExecs(RangeAgg.extremaInRangeAgg(points, "price",
      intervals, "cust_id", "lo", "hi")) == Seq("RangeValueExtremaExec"))
  }

  test("extrema-in-range equals brute force on adversarial randoms (NaN/inf/-0.0)") {
    // Spark-total-order brute force: NaN greater than everything and
    // equal to itself; max over a NaN-containing set is NaN, min is the
    // smallest finite unless only NaN qualifies. ±0.0 compare equal.
    def sqlLe(a: Double, b: Double): Boolean =
      if (a.isNaN) b.isNaN else if (b.isNaN) true else a <= b
    for (seed <- Seq(7, 8, 9)) {
      val rng = new scala.util.Random(seed)
      val vals: Seq[Double] = (0 until 300).map { _ =>
        math.floor((rng.nextDouble() - 0.5) * 20000) / 100.0
      } ++ Seq(-0.0, 0.0, Double.NaN, Double.NaN,
        Double.PositiveInfinity, Double.NegativeInfinity)
      val ivs: Seq[(Long, Double, Double)] = ((0 until 50).map { i =>
        val lo = math.floor((rng.nextDouble() - 0.5) * 16000) / 100.0
        val span = (rng.nextDouble() - 0.2) * 30
        ((i / 3 * 3).toLong, lo, math.floor((lo + span) * 100) / 100.0)
      } :+ ((995L, 5.0, 5.0))                       // degenerate
        :+ ((996L, Double.NaN, 3.0))                // empty
        :+ ((997L, 5.0, Double.NaN))                // finite + NaN pts
        :+ ((998L, Double.NaN, Double.NaN))         // NaN pts only
        :+ ((994L, Double.NegativeInfinity, Double.PositiveInfinity)))
      val got = RangeAgg.extremaInRangeAgg(
          vals.toDF("v"), "v", ivs.toDF("id", "lo", "hi"), "id", "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .toSet
      val expected = ivs.groupBy(_._1).flatMap { case (id, rows) =>
        val qual = for {
          (_, lo, hi) <- rows
          v <- vals if sqlLe(lo, v) && sqlLe(v, hi)
        } yield v
        if (qual.isEmpty) None
        else {
          // Spark total order: NaN greatest, so max = NaN if any NaN
          val mx = if (qual.exists(_.isNaN)) Double.NaN else qual.max
          val fin = qual.filterNot(_.isNaN)
          val mn = if (fin.isEmpty) Double.NaN else fin.min
          // normalize zero signs like the operator (and compare via
          // java.lang.Double so NaN == NaN in the set equality)
          Some((id, mn + 0.0, mx + 0.0))
        }
      }.toSet
      def canon(s: Set[(Long, Double, Double)]) =
        s.map { case (i, a, b) =>
          (i, java.lang.Double.doubleToLongBits(a + 0.0),
            java.lang.Double.doubleToLongBits(b + 0.0)) }
      assert(canon(got) == canon(expected), s"seed=$seed")
      assert(expected.exists(_._1 == 997L) &&
        expected.exists(_._1 == 998L), s"seed=$seed NaN fixture")
    }
  }

  test("keyed extrema-in-range equals min/max-over-keyed-join (orders fixture)") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    // key = order priority: few distinct values, so every key run is
    // long and probes genuinely interleave with other keys' points
    val intervals = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey".as("iid"), $"o_orderpriority".as("ikey"),
        ($"o_totalprice" - 2000.0).as("lo"),
        ($"o_totalprice" + 2000.0).as("hi"))
    val points = o.select($"o_orderpriority".as("pkey"),
      $"o_totalprice".as("price"))
    val got = RangeAgg.keyedExtremaInRangeAgg(points, "price", "pkey",
        intervals, "iid", "ikey", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val truth = points
      .join(intervals, $"pkey" === $"ikey" &&
        $"price" >= $"lo" && $"price" <= $"hi")
      .groupBy("iid")
      .agg(min($"price").as("min_v"), max($"price").as("max_v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == truth && truth.nonEmpty)
    assert(extremaExecs(RangeAgg.keyedExtremaInRangeAgg(points, "price",
        "pkey", intervals, "iid", "ikey", "lo", "hi")) ==
      Seq("RangeValueExtremaExec"))
    // cross-key isolation actually matters on this fixture: the
    // UNKEYED answer must differ (else the key tested nothing)
    val unkeyed = RangeAgg.extremaInRangeAgg(
        points.select("price"),
        "price", intervals.select("iid", "lo", "hi"), "iid", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(unkeyed != got)
  }

  test("keyed extrema: null keys drop, NaN keys match, NaN points per-key") {
    val nan = Double.NaN
    val pts = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 5.0), (1.0, 8.0), (2.0, 3.0), (null, 4.0),
      (nan, 7.0), (2.0, nan), (1.0, nan))
      .toDF("pkey", "v")
    val ivs2 = Seq[(java.lang.Long, java.lang.Double, java.lang.Double, java.lang.Double)](
      (10L, 1.0, 0.0, 10.0),  // key 1 finite: {5, 8}
      (20L, 2.0, 0.0, 10.0),  // key 2 finite: {3}
      (30L, null, 0.0, 10.0), // null key: never matches
      (40L, nan, 0.0, 10.0),  // NaN key matches NaN-key point: {7}
      (50L, 2.0, 1.0, nan),   // NaN hi, key 2: {3} + key-2 NaN point
      (60L, 3.0, 0.0, 10.0))  // no such key
      .toDF("iid", "ikey", "lo", "hi")
    val got = RangeAgg.keyedExtremaInRangeAgg(pts, "v", "pkey",
        ivs2, "iid", "ikey", "lo", "hi")
      .collect().map(r => r.getLong(0) ->
        ((java.lang.Double.doubleToLongBits(r.getDouble(1)),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))).toMap
    def b(d: Double) = java.lang.Double.doubleToLongBits(d)
    assert(got.keySet == Set(10L, 20L, 40L, 50L))
    assert(got(10L) == ((b(5.0), b(8.0)))) // min 5, max 8
    assert(got(20L) == ((b(3.0), b(3.0))))
    assert(got(40L) == ((b(7.0), b(7.0)))) // NaN key matched NaN key
    // key-2 NaN point qualifies iid 50 (hi NaN, same key): max = NaN,
    // min = finite 3.0
    assert(got(50L) == ((b(3.0), b(nan))))
    // truth cross-check vs the join form (Spark handles NaN the same)
    val truth = pts.join(ivs2, col("pkey") === col("ikey") &&
        col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy("iid").agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect().map(r => r.getLong(0) ->
        ((java.lang.Double.doubleToLongBits(r.getDouble(1)),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))).toMap
    assert(got == truth)
  }

  test("keyed extrema is partitioning-invariant (key runs span partitions)") {
    val pts = (0 until 400).map(i => ((i % 7).toLong, (i % 50).toDouble))
      .toDF("pkey", "v")
    val ivs = (0 until 40).map { i =>
      (i.toLong, (i % 9).toLong, (i % 30).toDouble, (i % 30 + 8).toDouble)
    }.toDF("iid", "ikey", "lo", "hi")
    def run(np: Int) = RangeAgg.keyedExtremaInRangeAgg(
        pts.repartition(np), "v", "pkey", ivs, "iid", "ikey", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val r1 = run(1)
    assert(r1 == run(13) && r1.nonEmpty)
    // truth
    val truth = pts.join(ivs, col("pkey") === col("ikey") &&
        col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy("iid").agg(min(col("v")), max(col("v")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(r1 == truth)
  }

  test("extrema-in-range: NaN-bound intervals SHARING an id with finite ones (review regression)") {
    // r18 review finding 1: a [NaN, NaN] instance's min-plan probe read
    // the global last value with a -inf validity bound, so a duplicate
    // id mixing [NaN, NaN] with a finite interval absorbed the stream
    // minimum into min_v. No NaN points: [NaN, NaN] matches NOTHING.
    val nan = Double.NaN
    val pts = Seq(-50.0, 5.0, 7.0).toDF("v")
    val ivs = Seq((1L, 0.0, 10.0), (1L, nan, nan), // same id!
      (2L, nan, nan),                              // NaN-only id: drops
      (3L, 6.0, 8.0)).toDF("id", "lo", "hi")
    val got = RangeAgg.extremaInRangeAgg(pts, "v", ivs, "id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val truth = pts.join(ivs, $"v" >= $"lo" && $"v" <= $"hi")
      .groupBy("id").agg(min($"v").as("mn"), max($"v").as("mx"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == truth)
    assert(got == Set((1L, 5.0, 7.0), (3L, 7.0, 7.0))) // never -50 for id 1
    // WITH NaN points, [NaN, NaN] matches exactly those; a duplicate id
    // mixing finite + [NaN, NaN] gets max = NaN, min = finite min
    val pts2 = Seq(-50.0, 5.0, nan).toDF("v")
    val got2 = RangeAgg.extremaInRangeAgg(pts2, "v", ivs, "id", "lo", "hi")
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val truth2 = pts2.join(ivs, $"v" >= $"lo" && $"v" <= $"hi")
      .groupBy("id").agg(min($"v").as("mn"), max($"v").as("mx"))
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(got2 == truth2)
  }

  test("extrema-in-range: NULL-lo + NaN-hi intervals never match (review regression)") {
    // r18 review finding 2: pt >= NULL is NULL, so (id, null, NaN)
    // matches nothing — but the NaN re-attach keyed only on isnan(hi)
    // and emitted a spurious (NaN, NaN) group, overriding finite ids.
    val nan = Double.NaN
    val pts = Seq[java.lang.Double](1.0, 5.0, nan).toDF("v")
    val ivs = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (7L, null, nan),   // never matches (NULL lo)
      (7L, 0.0, 10.0),   // finite: {1, 5} — max must stay 5, not NaN
      (8L, null, nan))   // never matches; id absent from output
      .toDF("id", "lo", "hi")
    val got = RangeAgg.extremaInRangeAgg(pts, "v", ivs, "id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val truth = pts.join(ivs, $"v" >= $"lo" && $"v" <= $"hi")
      .groupBy("id").agg(min($"v").as("mn"), max($"v").as("mx"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == truth)
    assert(got == Set((7L, 1.0, 5.0)))
    // keyed sibling of the same regression
    val kpts = Seq[(java.lang.Double, java.lang.Double)]((1.0, 5.0),
      (1.0, nan)).toDF("pk", "v")
    val kivs = Seq[(java.lang.Long, java.lang.Double, java.lang.Double, java.lang.Double)](
      (7L, 1.0, null, nan), (7L, 1.0, 0.0, 10.0))
      .toDF("id", "ik", "lo", "hi")
    val kgot = RangeAgg.keyedExtremaInRangeAgg(kpts, "v", "pk",
        kivs, "id", "ik", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val ktruth = kpts.join(kivs, $"pk" === $"ik" &&
        $"v" >= $"lo" && $"v" <= $"hi")
      .groupBy("id").agg(min($"v").as("mn"), max($"v").as("mx"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(kgot == ktruth && kgot == Set((7L, 5.0, 5.0)))
  }

  test("extrema-in-range is partitioning-invariant and handles empties") {
    val pts = Seq(1.0, 2.0, 2.0, 3.0, 10.0).toDF("v")
    val ivs = Seq((1L, 2.0, 3.0), (2L, 4.0, 9.0), (3L, 0.0, 100.0))
      .toDF("id", "lo", "hi")
    def run(np: Int) = RangeAgg.extremaInRangeAgg(
        pts.repartition(np), "v", ivs, "id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(run(1) == run(7))
    assert(run(1) == Seq((1L, 2.0, 3.0), (3L, 1.0, 10.0)))
    // empty sides
    assert(RangeAgg.extremaInRangeAgg(pts.limit(0), "v", ivs,
      "id", "lo", "hi").count() == 0)
    assert(RangeAgg.extremaInRangeAgg(pts, "v", ivs.limit(0),
      "id", "lo", "hi").count() == 0)
  }

  test("interval-overlap agg equals join-then-count (orders fixture + edges)") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val aIv = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey".as("aid"),
        ($"o_totalprice" - 2000.0).as("alo"),
        ($"o_totalprice" + 2000.0).as("ahi"))
    val bIv = o.filter($"o_orderkey" % 31 === 0)
      .select(($"o_totalprice" - 1500.0).as("blo"),
        ($"o_totalprice" + 1500.0).as("bhi"))
    val got = RangeAgg.intervalOverlapAgg(aIv, "aid", "alo", "ahi",
        bIv, "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = aIv.join(bIv, $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .groupBy("aid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth && truth.nonEmpty)
    // edge fixture: duplicate A ids (counts sum), touching endpoints
    // (inclusive overlap), inverted rows on both sides (dropped),
    // nested/disjoint B, an A id with zero overlaps (dropped)
    val a2 = Seq((1L, 0.0, 10.0), (1L, 20.0, 30.0), (2L, 100.0, 200.0),
      (3L, 5.0, 4.0), (4L, 10.0, 12.0)).toDF("aid", "alo", "ahi")
    val b2 = Seq((0.0, 1.0), (10.0, 20.0), (-5.0, 50.0), (8.0, 2.0),
      (25.0, 25.0)).toDF("blo", "bhi")
    val got2 = RangeAgg.intervalOverlapAgg(a2, "aid", "alo", "ahi",
        b2, "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val truth2 = a2.filter($"alo" <= $"ahi")
      .join(b2.filter($"blo" <= $"bhi"),
        $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .groupBy("aid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 == truth2)
    // hand check: id 1 = [0,10]:{[0,1],[10,20] touch,[-5,50]} +
    // [20,30]:{[10,20] touch,[-5,50],[25,25]} = 3 + 3; id 4 touches
    // [10,20] and sits inside [-5,50]
    assert(got2 == Map(1L -> 6L, 4L -> 2L))
  }

  test("interval-overlap agg brute force with NaN/infinite bounds") {
    def sqlLe(a: Double, b: Double): Boolean =
      if (a.isNaN) b.isNaN else if (b.isNaN) true else a <= b
    for (seed <- Seq(21, 22)) {
      val rng = new scala.util.Random(seed)
      val as = (0 until 60).map { i =>
        val lo = rng.nextInt(100).toDouble
        ((i / 2).toLong, lo, lo + rng.nextInt(20) - 4) // some inverted
      } :+ ((900L, Double.NegativeInfinity, 5.0)) :+
        ((901L, 5.0, Double.NaN)) // hi NaN: valid, overlaps all b.lo<=NaN
      val bs = (0 until 80).map { _ =>
        val lo = rng.nextInt(100).toDouble
        (lo, lo + rng.nextInt(15) - 3)
      } :+ ((Double.NaN, Double.NaN)) :+ // valid (NaN<=NaN); b.lo NaN
        ((-1e18, 1e18))
      val got = RangeAgg.intervalOverlapAgg(
          as.toDF("aid", "alo", "ahi"), "aid", "alo", "ahi",
          bs.toDF("blo", "bhi"), "blo", "bhi")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val expected = as.filter(t => sqlLe(t._2, t._3)).groupBy(_._1)
        .map { case (aid, rows) =>
          aid -> rows.map { case (_, alo, ahi) =>
            bs.filter(t => sqlLe(t._1, t._2))
              .count(t => sqlLe(alo, t._2) && sqlLe(t._1, ahi)).toLong
          }.sum
        }.filter(_._2 > 0)
      assert(got == expected, s"seed=$seed")
      assert(expected.contains(901L), s"seed=$seed NaN fixture")
    }
  }

  test("interval-overlap LENGTH agg equals join-then-sum (orders fixture + edges)") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val aIv = o.filter($"o_orderkey" % 97 === 0)
      .select(($"o_custkey").as("aid"), // duplicate ids: instances sum
        ($"o_totalprice" - 2000.0).as("alo"),
        ($"o_totalprice" + 2000.0).as("ahi"))
    val bIv = o.filter($"o_orderkey" % 31 === 0)
      .select(($"o_totalprice" - 1500.0).as("blo"),
        ($"o_totalprice" + 1500.0).as("bhi"))
    val got = RangeAgg.intervalOverlapLenAgg(aIv, "aid", "alo", "ahi",
        bIv, "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val truth = aIv.join(bIv, $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .groupBy("aid")
      .agg(sum(least($"ahi", $"bhi").cast("decimal(18,2)") -
          greatest($"alo", $"blo").cast("decimal(18,2)"))
        .cast("double").as("len"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == truth && truth.nonEmpty)
    // edge fixture: touching (len 0 but id kept via another instance),
    // nested, partial overlaps, inverted rows dropped, an id whose
    // ONLY overlap is a touch (kept, len 0)
    val a2 = Seq((1L, 0.0, 10.0), (1L, 20.0, 30.0), (2L, 100.0, 200.0),
      (3L, 5.0, 4.0), (4L, 20.0, 25.0)).toDF("aid", "alo", "ahi")
    val b2 = Seq((2.0, 8.0), (9.0, 21.0), (-5.0, 0.0), (30.0, 40.0),
      (7.0, 3.0)).toDF("blo", "bhi")
    val got2 = RangeAgg.intervalOverlapLenAgg(a2, "aid", "alo", "ahi",
        b2, "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // id 1: [0,10]∩[2,8]=6, [0,10]∩[9,21]=1, [0,10]∩[-5,0]=0 touch,
    //       [20,30]∩[9,21]=1, [20,30]∩[30,40]=0 touch → 8
    // id 4: [20,25]∩[9,21]=1 → 1; id 2: nothing → dropped
    assert(got2 == Map(1L -> 8.0, 4L -> 1.0))
    val truth2 = a2.filter($"alo" <= $"ahi")
      .join(b2.filter($"blo" <= $"bhi"),
        $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .groupBy("aid")
      .agg(sum(least($"ahi", $"bhi").cast("decimal(18,2)") -
          greatest($"alo", $"blo").cast("decimal(18,2)"))
        .cast("double").as("len"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got2 == truth2)
  }

  test("interval-overlap LENGTH agg brute force (random, non-finite excluded)") {
    for (seed <- Seq(31, 32, 33)) {
      val rng = new scala.util.Random(seed)
      val as = (0 until 70).map { i =>
        val lo = rng.nextInt(200) / 2.0
        ((i / 3).toLong, lo, lo + rng.nextInt(30) / 2.0 - 2.0) // some inverted
      } ++ Seq((800L, Double.NaN, 5.0), (801L, 0.0, Double.PositiveInfinity))
      val bs = (0 until 90).map { _ =>
        val lo = rng.nextInt(200) / 2.0
        (lo, lo + rng.nextInt(24) / 2.0 - 1.5)
      } ++ Seq((Double.NegativeInfinity, 3.0), (2.0, Double.NaN))
      val got = RangeAgg.intervalOverlapLenAgg(
          as.toDF("aid", "alo", "ahi"), "aid", "alo", "ahi",
          bs.toDF("blo", "bhi"), "blo", "bhi")
        .collect().map(r => (r.getLong(0),
          math.round(r.getDouble(1) * 100))).toMap
      def ok(t: (Double, Double)) = t._1 <= t._2 &&
        !t._1.isNaN && !t._2.isNaN && !t._1.isInfinite && !t._2.isInfinite
      val bsv = bs.filter(ok)
      val expected = as.filter(t => ok((t._2, t._3))).groupBy(_._1)
        .map { case (aid, rows) =>
          var pairs = 0L
          var cents = 0L
          rows.foreach { case (_, alo, ahi) =>
            bsv.foreach { case (blo, bhi) =>
              if (alo <= bhi && blo <= ahi) {
                pairs += 1
                cents += math.round((math.min(ahi, bhi) -
                  math.max(alo, blo)) * 100)
              }
            }
          }
          (aid, pairs, cents)
        }.filter(_._2 > 0).map(t => t._1 -> t._3).toMap
      assert(got == expected, s"seed=$seed")
      assert(expected.nonEmpty && !expected.contains(800L) &&
        !expected.contains(801L), s"seed=$seed non-finite fixture")
    }
  }

  test("prefix range-agg is partitioning-invariant (exact cents sums)") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val intervals = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey".as("interval_id"),
        ($"o_totalprice" - 2000.0).as("lo"),
        ($"o_totalprice" + 2000.0).as("hi"))
    def run(np: Int) = {
      val pts = o.select($"o_totalprice".as("price")).repartition(np)
      RangeAgg.pointsInRangeAgg(pts, "price",
          intervals, "interval_id", "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    }
    assert(run(1) == run(7))
  }

  // ---- r19: arbitrary pt-side column extrema in range (j7j) ---------

  test("value-extrema-in-range equals min/max-over-join (orders fixture, duplicate ids)") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val intervals = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_custkey".as("cust_id"), // duplicate ids: union-exact
        ($"o_totalprice" - 2000.0).as("lo"),
        ($"o_totalprice" + 2000.0).as("hi"))
    val points = o.select($"o_totalprice".as("price"),
      $"o_orderkey".cast("int").as("okey"))
    val got = RangeAgg.valueExtremaInRangeAgg(points, "price", "okey",
        intervals, "cust_id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    // truth via the binned pair join (min/max decline the prefix
    // rewrite, so the join survives)
    val truth = Relational.rangeJoinPoints(points, "price",
        intervals, "lo", "hi", binWidth = 4000.0)
      .groupBy("cust_id")
      .agg(min($"okey".cast("double")).as("min_f"),
        max($"okey".cast("double")).as("max_f"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == truth && truth.nonEmpty)
    // f ≠ pt genuinely: the pt-extrema operator must disagree
    val ptExtrema = RangeAgg.extremaInRangeAgg(
        points.select("price"), "price",
        intervals, "cust_id", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(ptExtrema != got)
  }

  test("value-extrema equals brute force on adversarial randoms (NaN/inf/-0.0/null f)") {
    def sqlLe(a: Double, b: Double): Boolean =
      if (a.isNaN) b.isNaN else if (b.isNaN) true else a <= b
    for (seed <- Seq(11, 12, 13)) {
      val rng = new scala.util.Random(seed)
      val pts: Seq[(java.lang.Double, java.lang.Double)] =
        (0 until 300).map { _ =>
          (java.lang.Double.valueOf(
            math.floor((rng.nextDouble() - 0.5) * 20000) / 100.0),
            java.lang.Double.valueOf(
              math.floor((rng.nextDouble() - 0.5) * 2000) / 100.0))
        } ++ Seq[(java.lang.Double, java.lang.Double)](
          (-0.0, -0.0), (0.0, 42.0),          // zero signs both slots
          (Double.NaN, 7.0), (Double.NaN, Double.NaN), // NaN pts
          (5.0, Double.NaN), (6.0, Double.NaN),        // NaN f
          (Double.PositiveInfinity, -9.0),
          (Double.NegativeInfinity, 9.0),
          (null, 1.0), (3.0, null))            // nulls excluded
      val ivs: Seq[(Long, Double, Double)] = ((0 until 50).map { i =>
        val lo = math.floor((rng.nextDouble() - 0.5) * 16000) / 100.0
        val span = (rng.nextDouble() - 0.2) * 30
        ((i / 3 * 3).toLong, lo, math.floor((lo + span) * 100) / 100.0)
      } :+ ((995L, 5.0, 5.0))                       // degenerate
        :+ ((996L, Double.NaN, 3.0))                // empty
        :+ ((997L, 5.0, Double.NaN))                // finite + NaN pts
        :+ ((998L, Double.NaN, Double.NaN))         // NaN pts only
        :+ ((994L, Double.NegativeInfinity, Double.PositiveInfinity)))
      val got = RangeAgg.valueExtremaInRangeAgg(
          pts.toDF("v", "f"), "v", "f",
          ivs.toDF("id", "lo", "hi"), "id", "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .toSet
      val expected = ivs.groupBy(_._1).flatMap { case (id, rows) =>
        val qual = for {
          (_, lo, hi) <- rows
          (v, f) <- pts
          if v != null && f != null &&
            sqlLe(lo, v.doubleValue) && sqlLe(v.doubleValue, hi)
        } yield f.doubleValue
        if (qual.isEmpty) None
        else {
          val mx = if (qual.exists(_.isNaN)) Double.NaN else qual.max
          val fin = qual.filterNot(_.isNaN)
          val mn = if (fin.isEmpty) Double.NaN else fin.min
          Some((id, mn + 0.0, mx + 0.0))
        }
      }.toSet
      def canon(s: Set[(Long, Double, Double)]) =
        s.map { case (i, a, b) =>
          (i, java.lang.Double.doubleToLongBits(a + 0.0),
            java.lang.Double.doubleToLongBits(b + 0.0)) }
      assert(canon(got) == canon(expected), s"seed=$seed")
      assert(expected.exists(_._1 == 997L) &&
        expected.exists(_._1 == 998L), s"seed=$seed NaN fixture")
    }
  }

  test("value-extrema is partitioning-invariant and handles empty sides") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val intervals = o.filter($"o_orderkey" % 97 === 0)
      .select($"o_custkey".as("id"),
        ($"o_totalprice" - 2000.0).as("lo"),
        ($"o_totalprice" + 2000.0).as("hi"))
    def run(np: Int) = {
      val pts = o.select($"o_totalprice".as("v"),
        $"o_orderkey".cast("int").as("f")).repartition(np)
      RangeAgg.valueExtremaInRangeAgg(pts, "v", "f",
          intervals, "id", "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    }
    assert(run(1) == run(7) && run(1).nonEmpty)
    val pts = o.select($"o_totalprice".as("v"),
      $"o_orderkey".cast("int").as("f"))
    assert(RangeAgg.valueExtremaInRangeAgg(pts.limit(0), "v", "f",
      intervals, "id", "lo", "hi").count() == 0)
    assert(RangeAgg.valueExtremaInRangeAgg(pts, "v", "f",
      intervals.limit(0), "id", "lo", "hi").count() == 0)
  }

  test("value-extrema type gate and reserved-prefix guard") {
    val pts = Seq((1.0, 2L)).toDF("v", "f") // long f: not order-exact
    val ivs = Seq((1L, 0.0, 10.0)).toDF("id", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      RangeAgg.valueExtremaInRangeAgg(pts, "v", "f", ivs, "id", "lo", "hi")
    }
    assert(e.getMessage.contains("order-exact"))
    val dirty = Seq((1.0, 2.0, 3.0)).toDF("_gx_id", "lo", "hi")
    val e2 = intercept[IllegalArgumentException] {
      RangeAgg.valueExtremaInRangeAgg(Seq((1.0, 2.0)).toDF("v", "f"),
        "v", "f", dirty, "_gx_id", "lo", "hi")
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("KEYED value-extrema equals min/max-over-keyed-join (events fixture)") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val sessions = e.filter($"event_id" % 23 === 0)
      .select($"event_id".as("sid"), $"user_id".as("skey"),
        ($"value" - 5.0).as("lo"), ($"value" + 5.0).as("hi"))
    val points = e.select($"user_id".as("pkey"), $"value".as("v"),
      $"event_id".cast("int").as("f"))
    val got = RangeAgg.keyedValueExtremaInRangeAgg(points, "v", "f",
        "pkey", sessions, "sid", "skey", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val truth = points.join(sessions, $"pkey" === $"skey" &&
        $"v" >= $"lo" && $"v" <= $"hi")
      .groupBy("sid")
      .agg(min($"f".cast("double")).as("min_f"),
        max($"f".cast("double")).as("max_f"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == truth && truth.nonEmpty)
    // the key must bite: the unkeyed answer differs
    val unkeyed = RangeAgg.valueExtremaInRangeAgg(
        points.select("v", "f"), "v", "f",
        sessions.select("sid", "lo", "hi"), "sid", "lo", "hi")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(unkeyed != got)
  }

  test("KEYED value-extrema brute force (NaN/null keys, NaN f, NaN bounds, seeds)") {
    def sqlLe(a: Double, b: Double): Boolean =
      if (a.isNaN) b.isNaN else if (b.isNaN) true else a <= b
    def keyEq(a: java.lang.Double, b: java.lang.Double): Boolean =
      a != null && b != null &&
        (java.lang.Double.doubleToLongBits(a.doubleValue + 0.0) ==
         java.lang.Double.doubleToLongBits(b.doubleValue + 0.0))
    for (seed <- Seq(31, 32, 33)) {
      val rng = new scala.util.Random(seed)
      def someKey(): java.lang.Double = rng.nextInt(7) match {
        case 0 => null
        case 1 => Double.NaN
        case 2 => -0.0
        case _ => rng.nextInt(4).toDouble
      }
      val pts: Seq[(java.lang.Double, java.lang.Double, java.lang.Double)] =
        (0 until 250).map { _ =>
          (someKey(),
            java.lang.Double.valueOf(
              math.floor((rng.nextDouble() - 0.5) * 8000) / 100.0),
            java.lang.Double.valueOf(
              math.floor((rng.nextDouble() - 0.5) * 2000) / 100.0))
        } ++ Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
          (1.0, Double.NaN, 7.5), (Double.NaN, Double.NaN, -3.25),
          (2.0, 5.0, Double.NaN), (0.0, -0.0, -0.0),
          (3.0, null, 1.0), (1.0, 3.0, null))
      val ivs: Seq[(Long, java.lang.Double, Double, Double)] =
        ((0 until 60).map { i =>
          val lo = math.floor((rng.nextDouble() - 0.5) * 7000) / 100.0
          ((i / 3).toLong, someKey(), lo,
            math.floor((lo + (rng.nextDouble() - 0.2) * 40) * 100) / 100.0)
        } :+ ((900L, 1.0: java.lang.Double, 5.0, Double.NaN))   // NaN hi
          :+ ((901L, Double.NaN: java.lang.Double, 0.0, Double.NaN))
          :+ ((902L, null: java.lang.Double, 0.0, 100.0)))      // null key
      val got = RangeAgg.keyedValueExtremaInRangeAgg(
          pts.toDF("pk", "v", "f"), "v", "f", "pk",
          ivs.toDF("id", "ik", "lo", "hi"), "id", "ik", "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .toSet
      val expected = ivs.groupBy(_._1).flatMap { case (id, rows) =>
        val qual = for {
          (_, ik, lo, hi) <- rows
          (pk, v, f) <- pts
          if v != null && f != null && keyEq(pk, ik) &&
            sqlLe(lo, v.doubleValue) && sqlLe(v.doubleValue, hi)
        } yield f.doubleValue
        if (qual.isEmpty) None
        else {
          val mx = if (qual.exists(_.isNaN)) Double.NaN else qual.max
          val fin = qual.filterNot(_.isNaN)
          val mn = if (fin.isEmpty) Double.NaN else fin.min
          Some((id, mn + 0.0, mx + 0.0))
        }
      }.toSet
      def canon(s: Set[(Long, Double, Double)]) =
        s.map { case (i, a, b) =>
          (i, java.lang.Double.doubleToLongBits(a + 0.0),
            java.lang.Double.doubleToLongBits(b + 0.0)) }
      assert(canon(got) == canon(expected), s"seed=$seed")
      assert(expected.exists(_._1 == 900L) &&
        expected.exists(_._1 == 901L) && !expected.exists(_._1 == 902L),
        s"seed=$seed NaN/null-key fixture")
    }
  }

  test("KEYED value-extrema is partitioning-invariant (string keys too)") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val sessions = e.filter($"event_id" % 23 === 0)
      .select($"event_id".as("sid"), $"event_type".as("skey"),
        ($"value" - 5.0).as("lo"), ($"value" + 5.0).as("hi"))
    def run(np: Int) = {
      val points = e.select($"event_type".as("pkey"), $"value".as("v"),
        $"event_id".cast("int").as("f")).repartition(np)
      RangeAgg.keyedValueExtremaInRangeAgg(points, "v", "f", "pkey",
          sessions, "sid", "skey", "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    }
    // string keys: few distinct values → long multi-partition key runs,
    // exercising the composite containment path hard
    assert(run(1) == run(7) && run(1).nonEmpty)
  }

  test("KEYED value-extrema: grouping by the key itself (id == key), NaN attach") {
    // id column IS the key column — the NaN re-attach must not trip on
    // the duplicate name (r19 self-review regression)
    val nan = Double.NaN
    val pts = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, 5.0, 10.0), (1.0, nan, 99.0), (2.0, nan, -7.0), (2.0, 3.0, 1.0))
      .toDF("pk", "v", "f")
    val ivs2 = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, 0.0, nan),  // key 1, NaN hi: finite {10} + NaN-pt f {99}
      (2.0, 0.0, 5.0))  // key 2, finite only: {1}
      .toDF("k", "lo", "hi")
    val got = RangeAgg.keyedValueExtremaInRangeAgg(pts, "v", "f", "pk",
        ivs2, "k", "k", "lo", "hi")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(got == Set((1.0, 10.0, 99.0), (2.0, 1.0, 1.0)))
  }

  test("keyed overlap LENGTH: grouping by the key itself (id == key)") {
    val a2 = Seq((10L, 0.0, 10.0), (10L, 20.0, 30.0), (20L, 0.0, 50.0))
      .toDF("k", "alo", "ahi")
    val b2 = Seq((10L, 2.0, 8.0), (10L, 25.0, 40.0), (30L, 0.0, 100.0))
      .toDF("bk", "blo", "bhi")
    val got = RangeAgg.keyedIntervalOverlapLenAgg(a2, "k", "k",
        "alo", "ahi", b2, "bk", "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // key 10: [0,10]∩[2,8]=6; [20,30]∩[25,40]=5 → 11; key 20 matches
    // no same-key b (30 is a different key) → dropped
    assert(got == Map(10L -> 11.0))
  }

  // ---- r19: keyed interval-overlap count + length --------------------

  test("keyed interval-overlap equals count-over-keyed-join (events fixture)") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val aIv = e.filter($"event_id" % 23 === 0)
      .select($"event_id".as("aid"), $"user_id".as("akey"),
        ($"value" - 5.0).as("alo"), ($"value" + 5.0).as("ahi"))
    val bIv = e.filter($"event_id" % 7 === 0)
      .select($"user_id".as("bkey"),
        ($"value" - 3.0).as("blo"), ($"value" + 3.0).as("bhi"))
    val got = RangeAgg.keyedIntervalOverlapAgg(aIv, "aid", "akey",
        "alo", "ahi", bIv, "bkey", "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = aIv.join(bIv, $"akey" === $"bkey" &&
        $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .groupBy("aid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth && truth.nonEmpty)
    // the key must actually bite: unkeyed disagrees
    val unkeyed = RangeAgg.intervalOverlapAgg(
        aIv.select("aid", "alo", "ahi"), "aid", "alo", "ahi",
        bIv.select("blo", "bhi"), "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unkeyed != got)
  }

  test("keyed interval-overlap edges: null keys, duplicate ids, zero-overlap drop") {
    val a2 = Seq[(java.lang.Long, java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, 10L, 0.0, 10.0), (1L, 10L, 20.0, 30.0), // dup id, same key
      (2L, 20L, 0.0, 100.0),                       // key nobody has
      (3L, null, 0.0, 100.0),                      // null key: 0 pairs
      (4L, 10L, 50.0, 40.0))                       // inverted: dropped
      .toDF("aid", "akey", "alo", "ahi")
    val b2 = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (10L, 5.0, 25.0), (10L, 9.0, 2.0), (null, 0.0, 100.0),
      (30L, 0.0, 100.0)).toDF("bkey", "blo", "bhi")
    val got = RangeAgg.keyedIntervalOverlapAgg(a2, "aid", "akey",
        "alo", "ahi", b2, "bkey", "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // id 1: [0,10]∩[5,25] + [20,30]∩[5,25] = 2 (same key 10);
    // everything else matches nothing
    assert(got == Map(1L -> 2L))
  }

  test("keyed overlap LENGTH equals sum-over-keyed-join (events fixture)") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val aIv = e.filter($"event_id" % 23 === 0)
      .select($"user_id".as("aid"), $"user_id".as("akey"), // dup ids
        ($"value" - 5.0).as("alo"), ($"value" + 5.0).as("ahi"))
    val bIv = e.filter($"event_id" % 7 === 0)
      .select($"user_id".as("bkey"),
        ($"value" - 3.0).as("blo"), ($"value" + 3.0).as("bhi"))
    val got = RangeAgg.keyedIntervalOverlapLenAgg(aIv, "aid", "akey",
        "alo", "ahi", bIv, "bkey", "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val truth = aIv.join(bIv, $"akey" === $"bkey" &&
        $"alo" <= $"bhi" && $"blo" <= $"ahi")
      .groupBy("aid")
      .agg(sum(least($"ahi", $"bhi").cast("decimal(18,2)") -
          greatest($"alo", $"blo").cast("decimal(18,2)"))
        .cast("double").as("len"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == truth && truth.nonEmpty)
  }

  test("overlap LENGTH instance ids are content-derived (no eager materialization)") {
    // six branches must agree on the instance↔(lo,hi) mapping WITHOUT
    // a checkpoint: the analyzed plan carries the row_number window and
    // no materialized-RDD scan
    val a2 = Seq((1L, 0.0, 10.0), (1L, 20.0, 30.0), (1L, 0.0, 10.0))
      .toDF("aid", "alo", "ahi") // full-duplicate instances: tie-break
    val b2 = Seq((2.0, 8.0), (9.0, 21.0), (25.0, 40.0)).toDF("blo", "bhi")
    val df = RangeAgg.intervalOverlapLenAgg(a2, "aid", "alo", "ahi",
      b2, "blo", "bhi")
    val plan = df.queryExecution.analyzed.toString
    assert(!plan.contains("LogicalRDD") && plan.contains("row_number"))
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // [0,10]: 6+1+0; [20,30]: 1+5; duplicate [0,10] again: 7 → 20
    assert(got == Map(1L -> 20.0))
  }
}
