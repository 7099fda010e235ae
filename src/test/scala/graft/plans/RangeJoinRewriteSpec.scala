package graft.plans

import graft.{PlanShape, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** The automatic band-join rewrite: a bare inequality join must become
  * the binned equi-join (no nested loop) when the width conf is set,
  * produce identical rows to the nested-loop plan, and leave non-band
  * joins untouched. */
class RangeJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val WidthKey = "spark.graft.rangeJoin.binWidth"

  private def points = Seq((1L, 5.0), (2L, 15.0), (3L, 25.0), (4L, 47.0))
    .toDF("pid", "p")
  private def intervals = Seq((10L, 0.0, 10.0), (20L, 12.0, 30.0),
    (30L, 40.0, 41.0), (40L, 50.0, 45.0)) // last inverted: matches nothing
    .toDF("iid", "lo", "hi")

  private def bandJoin(): DataFrame =
    points.join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid")

  private def withWidth[T](w: String)(body: => T): T = {
    spark.conf.set(WidthKey, w)
    try body finally spark.conf.unset(WidthKey)
  }

  private def binned(p: PlanShape): Boolean =
    p.attrNames.exists(_.startsWith("_graft_bin"))

  test("band join rewrites to a binned equi-join, same rows") {
    val naive = bandJoin().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(PlanShape(bandJoin()).has[BroadcastNestedLoopJoinExec])
    withWidth("10.0") {
      val p = PlanShape(bandJoin())
      assert(!p.has[BroadcastNestedLoopJoinExec], p)
      assert(binned(p), p)
      val got = bandJoin().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naive)
      assert(got == Set((1L, 10L), (2L, 20L), (3L, 20L)))
    }
  }

  test("flipped literal orders (lo <= p AND hi >= p) also rewrite") {
    withWidth("10.0") {
      val df = points.join(intervals,
          col("lo") <= col("p") && col("hi") >= col("p"))
        .select("pid", "iid")
      assert(!PlanShape(df).has[BroadcastNestedLoopJoinExec])
      assert(df.count() == 3)
    }
  }

  test("strict bounds keep exact semantics after the rewrite") {
    withWidth("10.0") {
      val df = points.join(intervals,
          col("p") > col("lo") && col("p") < col("hi"))
        .select("pid", "iid")
      assert(!PlanShape(df).has[BroadcastNestedLoopJoinExec])
      // (1,10): 0 < 5 < 10 keeps; boundary-equal rows would drop here
      assert(df.count() == 3)
    }
  }

  test("bin-replication guard: a too-wide interval raises, not OOMs") {
    // session-wide width + an unrelated join with huge intervals was the
    // blowup path: every interval row would explode into hi/w - lo/w
    // bins. The guard must raise a NAMED error before that, and leave
    // results untouched when the cap accommodates the data.
    val wide = Seq((1L, 0.0, 1.0e9)).toDF("iid", "lo", "hi")
    withWidth("10.0") {
      spark.conf.set("spark.graft.rangeJoin.maxBinsPerInterval", "1000")
      // the cap literal is baked in at plan time, so each conf change
      // needs a freshly-built frame
      def wideJoin() = points.join(wide,
          col("p") >= col("lo") && col("p") <= col("hi"))
        .select("pid", "iid")
      try {
        val e = intercept[Exception] { wideJoin().collect() }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("maxBinsPerInterval")),
          s"unexpected error: $e")
        // intervals that FIT the cap still rewrite and keep exact
        // semantics with the guard in the plan
        val narrow = bandJoin().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(narrow == Set((1L, 10L), (2L, 20L), (3L, 20L)))
      } finally spark.conf.unset("spark.graft.rangeJoin.maxBinsPerInterval")
    }
  }

  test("non-band joins are left untouched") {
    withWidth("10.0") {
      // three conjuncts (equi + band) — not the 2-conjunct band shape
      val df = points.join(intervals,
        col("pid") === col("iid") && col("p") >= col("lo") &&
          col("p") <= col("hi"))
      assert(!binned(PlanShape(df)))
      // band whose "point" references both sides — untouched
      val df2 = points.join(intervals,
        col("p") + col("lo") >= col("lo") && col("p") <= col("hi"))
      assert(!binned(PlanShape(df2)))
    }
  }

  test("unset or nonpositive width disables the rewrite") {
    assert(PlanShape(bandJoin()).has[BroadcastNestedLoopJoinExec])
    withWidth("0") {
      assert(PlanShape(bandJoin()).has[BroadcastNestedLoopJoinExec])
    }
  }

  // ---- r17: aggregate-over-band-join → join-free prefix -------------

  private val PrefixKey = "spark.graft.rangeJoin.aggPrefix"

  private def withPrefixOff[T](body: => T): T = {
    spark.conf.set(PrefixKey, "false")
    try body finally spark.conf.unset(PrefixKey)
  }

  private def aggOverBand(pts: DataFrame, ivs: DataFrame): DataFrame =
    pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid")
      .agg(count(lit(1)).as("cnt"),
        graft.core.Tables.dsum(col("p")).as("s"))

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("aggregate over a band join auto-plans the join-free prefix form") {
    val df = aggOverBand(points, intervals)
    val p = PlanShape(df)
    assert(p.has[RangeAggPrefixExec], p)
    assert(p.joins.isEmpty, p)
    // ground truth: the pair-enumerating plan with BOTH rewrites off
    val truth = withPrefixOff(rows(aggOverBand(points, intervals)))
    assert(rows(df) == truth && truth.nonEmpty)
    // no width conf needed: the prefix form has no tuning knob
    assert(!spark.conf.getOption(WidthKey).isDefined)
  }

  test("prefix rewrite is duplicate-interval-id safe (signed probes)") {
    // two interval ROWS share iid 20: the group must hold the SUM of
    // both instances' answers, exactly as aggregate-over-join computes
    val dup = Seq((20L, 0.0, 10.0), (20L, 12.0, 30.0), (30L, 24.0, 26.0))
      .toDF("iid", "lo", "hi")
    val df = aggOverBand(points, dup)
    assert(PlanShape(df).has[RangeAggPrefixExec])
    assert(rows(df) == withPrefixOff(rows(aggOverBand(points, dup))))
  }

  test("prefix rewrite keeps strict-bound semantics, incl. lo == hi") {
    // boundary-equal point (5.0 == lo of [5,25]) plus a strict-strict
    // degenerate [7,7] interval (matches nothing, must not go negative)
    val ivs = Seq((1L, 5.0, 25.0), (2L, 7.0, 7.0), (3L, 25.0, 47.0))
      .toDF("iid", "lo", "hi")
    def q() = points.join(ivs, col("p") > col("lo") && col("p") < col("hi"))
      .groupBy("iid").agg(count(lit(1)).as("cnt"),
        graft.core.Tables.dsum(col("p")).as("s"))
    assert(PlanShape(q()).has[RangeAggPrefixExec])
    assert(rows(q()) == withPrefixOff(rows(q())))
    // inclusive form on the same data disagrees with strict (boundary
    // rows) and must also match its own join-form truth
    def qi() = aggOverBand(points, ivs)
    assert(rows(qi()) == withPrefixOff(rows(qi())))
    assert(rows(qi()) != rows(q()))
  }

  test("prefix rewrite: null points and null bounds match join semantics") {
    val pts = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 5.0), (2L, null), (3L, 25.0)).toDF("pid", "p")
    val ivs = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (10L, 0.0, 10.0), (20L, null, 30.0), (30L, 20.0, 30.0))
      .toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid").agg(count(lit(1)).as("cnt"),
        graft.core.Tables.dsum(col("p")).as("s"))
    assert(PlanShape(q()).has[RangeAggPrefixExec])
    assert(rows(q()) == withPrefixOff(rows(q())))
  }

  test("prefix rewrite: NaN points and NaN bounds match join semantics") {
    // r17 advice: Spark's total order makes NaN greater than everything
    // and equal to itself, so a NaN point satisfies pt >= lo for any lo
    // and pt <= hi exactly when hi is NaN. The prefix form must keep
    // NaN points (they sort last, tag order fixes membership) — the old
    // drop-NaN-points filter undercounted (NaN point, NaN hi) pairs.
    val nan = Double.NaN
    val pts = Seq((1L, 5.0), (2L, nan), (3L, 25.0), (4L, nan))
      .toDF("pid", "p")
    val ivs = Seq(
      (10L, 0.0, 10.0),  // finite: NaN points excluded (NaN <= 10 false)
      (20L, 20.0, nan),  // NaN hi: 25.0 and both NaN points qualify
      (30L, nan, nan),   // [NaN, NaN]: exactly the NaN points
      (40L, nan, 30.0))  // NaN lo, finite hi: empty
      .toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid").agg(count(lit(1)).as("cnt"),
        graft.core.Tables.dsum(col("p")).as("s"))
    assert(PlanShape(q()).has[RangeAggPrefixExec])
    val got = q().collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    val truth = withPrefixOff(q().collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet)
    assert(got == truth)
    // the fixture actually exercised the NaN memberships
    assert(got.map(t => (t._1, t._2)) ==
      Set((10L, 1L), (20L, 3L), (30L, 2L)))
    // strict NaN bounds: pt < NaN admits every finite point, NaN < NaN
    // none — the strict probe tag must sort BEFORE the NaN points
    def qs() = pts.join(ivs, col("p") > col("lo") && col("p") < col("hi"))
      .groupBy("iid").agg(count(lit(1)).as("cnt"))
    assert(PlanShape(qs()).has[RangeAggPrefixExec])
    assert(qs().collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      withPrefixOff(qs().collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("prefix rewrite handles the GLOBAL aggregate, incl. zero matches") {
    def q(ivs: DataFrame) = points
      .join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .agg(count(lit(1)).as("cnt"), graft.core.Tables.dsum(col("p")).as("s"))
    val some = q(intervals)
    assert(PlanShape(some).has[RangeAggPrefixExec])
    assert(some.collect().toSeq == withPrefixOff(q(intervals).collect().toSeq))
    // zero qualifying pairs: ONE row (0, null) — inner-join-then-global-agg
    val none = Seq((9L, 100.0, 200.0)).toDF("iid", "lo", "hi")
    val got = q(none).collect()
    assert(got.length == 1 && got(0).getLong(0) == 0L && got(0).isNullAt(1))
    assert(got.toSeq == withPrefixOff(q(none).collect().toSeq))
  }

  test("avg falls out of the prefix form (exact sum / count)") {
    def q() = points
      .join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid")
      .agg(graft.core.Tables.davg(col("p")).as("a"))
    assert(PlanShape(q()).has[RangeAggPrefixExec])
    val got = q().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == withPrefixOff(
      q().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet))
  }

  test("double sums decline the prefix form and fall back to the bin join") {
    // plain sum(double) is order-dependent — prefix re-association could
    // drift a ulp, so the agg rewrite must decline; with a width set the
    // binned JOIN rewrite still rescues the plan from the nested loop
    def q() = points
      .join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid").agg(sum(col("p")).as("s"))
    assert(!PlanShape(q()).has[RangeAggPrefixExec])
    withWidth("10.0") {
      val p = PlanShape(q())
      assert(!p.has[RangeAggPrefixExec] && binned(p), p)
    }
    // min/max stay on the join path too: running extrema are not
    // differences of prefixes (order-dependent across boundaries)
    def qm() = points
      .join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid").agg(max(col("p")).as("m"))
    assert(!PlanShape(qm()).has[RangeAggPrefixExec])
  }

  test("the SQL surface gets the prefix plan too (BETWEEN band join)") {
    points.createOrReplaceTempView("rj_pts")
    intervals.createOrReplaceTempView("rj_ivs")
    val q = spark.sql(
      "SELECT iid, count(*) AS cnt, " +
        "CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS s " +
        "FROM rj_pts JOIN rj_ivs ON p BETWEEN lo AND hi " +
        "GROUP BY iid")
    val pl = PlanShape(q)
    assert(pl.has[RangeAggPrefixExec] && pl.joins.isEmpty, pl)
    val got = rows(q)
    assert(got == withPrefixOff(rows(spark.sql(
      "SELECT iid, count(*) AS cnt, " +
        "CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS s " +
        "FROM rj_pts JOIN rj_ivs ON p BETWEEN lo AND hi " +
        "GROUP BY iid"))) && got.nonEmpty)
  }

  test("HAVING above the band-join aggregate keeps the prefix plan") {
    points.createOrReplaceTempView("rj_pts")
    intervals.createOrReplaceTempView("rj_ivs")
    def q() = spark.sql(
      "SELECT iid, count(*) AS cnt FROM rj_pts JOIN rj_ivs " +
        "ON p BETWEEN lo AND hi GROUP BY iid HAVING count(*) >= 2")
    val pl = PlanShape(q())
    assert(pl.has[RangeAggPrefixExec] && pl.joins.isEmpty, pl)
    val got = q().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == withPrefixOff(
      q().collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    assert(got == Set((20L, 2L))) // iid 20 holds points 15 and 25
  }

  test("a renaming subquery between the aggregate and the band join inlines") {
    // the SQL-subquery shape: a Project that only prunes/renames sits
    // between GROUP BY and the band join; its aliases inline and the
    // prefix plan still fires with names/exprIds preserved
    points.createOrReplaceTempView("rj_pts")
    intervals.createOrReplaceTempView("rj_ivs")
    def q() = spark.sql(
      "SELECT id2, count(*) AS cnt, " +
        "CAST(sum(CAST(pp AS DECIMAL(18,2))) AS DOUBLE) AS s FROM " +
        "(SELECT iid AS id2, p AS pp FROM rj_pts JOIN rj_ivs " +
        "ON p >= lo AND p <= hi) GROUP BY id2")
    val pl = PlanShape(q())
    assert(pl.has[RangeAggPrefixExec] && pl.joins.isEmpty, pl)
    assert(q().columns.toSeq == Seq("id2", "cnt", "s"))
    val got = rows(q())
    assert(got == withPrefixOff(rows(q())) && got.nonEmpty)
    // a COMPUTED projection still declines (the guard, not an oversight)
    def qc() = spark.sql(
      "SELECT id2, count(*) AS cnt FROM " +
        "(SELECT iid + 1 AS id2, p FROM rj_pts JOIN rj_ivs " +
        "ON p >= lo AND p <= hi) GROUP BY id2")
    assert(!PlanShape(qc()).has[RangeAggPrefixExec])
  }

  test("count(DISTINCT pt) declines the prefix form (duplicate-key semantics)") {
    // per-instance prefix diffs SUM across duplicate group keys while
    // SQL's DISTINCT unions across them — the rewrite must decline
    def q() = points
      .join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid").agg(countDistinct(col("p")).as("d"))
    assert(!PlanShape(q()).has[RangeAggPrefixExec])
    // and the duplicate-key case is exactly why: two instances of one
    // key with overlapping bands must count shared values ONCE
    val dup = Seq((20L, 0.0, 30.0), (20L, 10.0, 50.0)).toDF("iid", "lo", "hi")
    val got = points
      .join(dup, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy("iid").agg(countDistinct(col("p")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20L, 4L))) // 5,15,25,47 each once, not summed
  }

  test("non-attribute group keys and outer band joins decline the prefix") {
    // grouping by a COMPUTED interval-side expression — correct answers
    // require carrying the expression through; v1 declines (documented
    // guard), and without a width conf the plan stays the nested loop
    def qExpr() = points
      .join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
      .groupBy((col("iid") % 7).as("g"))
      .agg(count(lit(1)).as("cnt"))
    assert(!PlanShape(qExpr()).has[RangeAggPrefixExec])
    assert(rows2(qExpr()) == withPrefixOff(rows2(qExpr())))
    // LEFT OUTER band join: unmatched intervals survive with nulls —
    // not inner-join-over-band semantics; the rewrite must not touch it
    def qOuter() = points
      .join(intervals, col("p") >= col("lo") && col("p") <= col("hi"),
        "left_outer")
      .groupBy("pid").agg(count(col("iid")).as("cnt"))
    assert(!PlanShape(qOuter()).has[RangeAggPrefixExec])
    assert(rows2(qOuter()) == withPrefixOff(rows2(qOuter())))
  }

  private def rows2(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("spark.graft.rangeJoin.aggPrefix=false disables the agg rewrite") {
    withPrefixOff {
      assert(!PlanShape(aggOverBand(points, intervals)).has[RangeAggPrefixExec])
    }
  }

  // ---- keyed band (equi + band, r18) --------------------------------

  // events(user, ts, amount) inside each session(user, start, end) —
  // the canonical keyed-band fixture. Duplicate users on both sides,
  // a user with events but no sessions (u4), a session user with no
  // events (u9), overlapping same-user sessions, boundary-equal ts.
  private def events = Seq(
    ("u1", 5.0, 10L), ("u1", 15.0, 20L), ("u1", 25.0, 30L),
    ("u2", 5.0, 40L), ("u2", 47.0, 50L),
    ("u4", 7.0, 60L)).toDF("euser", "ts", "amount")
  private def sessions = Seq(
    ("u1", 100L, 0.0, 10.0), ("u1", 101L, 5.0, 30.0), // overlap: ts=5 in both
    ("u2", 102L, 0.0, 10.0), ("u2", 103L, 40.0, 50.0),
    ("u9", 104L, 0.0, 100.0)).toDF("suser", "sid", "lo", "hi")

  private def keyedAgg(ev: DataFrame, se: DataFrame): DataFrame =
    ev.join(se, col("euser") === col("suser") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy("sid")
      .agg(count(lit(1)).as("cnt"), sum(col("amount")).as("s"))

  private def rows3n(df: DataFrame): Set[(Long, Long, Option[Long])] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

  test("keyed band join (equi + band) plans the keyed prefix, matches join truth") {
    val df = keyedAgg(events, sessions)
    val p = PlanShape(df)
    assert(p.has[RangeAggPrefixExec], p)
    assert(p.joins.isEmpty, p)
    val got = rows3n(df)
    assert(got == withPrefixOff(rows3n(keyedAgg(events, sessions))))
    // cross-key isolation: u2's ts=5 event must NOT count into u1's
    // [0,10] session and vice versa; u9's session drops (no events)
    assert(got == Set((100L, 1L, Some(10L)), (101L, 3L, Some(60L)),
      (102L, 1L, Some(40L)), (103L, 1L, Some(50L))))
  }

  test("keyed prefix: null keys never match, NaN keys match each other") {
    val nan = Double.NaN
    val ev = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 5.0), (null, 5.0), (nan, 5.0), (-0.0, 5.0))
      .toDF("ek", "ts")
    val se = Seq[(java.lang.Long, java.lang.Double, java.lang.Double, java.lang.Double)](
      (1L, 1.0, 0.0, 10.0), (2L, null, 0.0, 10.0),
      (3L, nan, 0.0, 10.0), (4L, 0.0, 0.0, 10.0))
      .toDF("sid", "sk", "lo", "hi")
    def q() = ev.join(se, col("ek") === col("sk") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy("sid").agg(count(lit(1)).as("cnt"))
    assert(PlanShape(q()).has[RangeAggPrefixExec])
    val got = rows2(q())
    assert(got == withPrefixOff(rows2(q())))
    // null = null never matches (sid 2 drops); NaN = NaN matches
    // (Spark SQL equality); −0.0 point key meets the +0.0 session key
    // (the sort-image normalization — Double.compare would split them)
    assert(got == Set((1L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("keyed prefix: multi-key (two equi conjuncts) and string keys") {
    val ev = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("b", 1L, 5.0))
      .toDF("r", "g", "ts")
    val se = Seq(("a", 1L, 10L, 0.0, 10.0), ("a", 2L, 20L, 6.0, 10.0),
      ("b", 1L, 30L, 0.0, 10.0), ("b", 2L, 40L, 0.0, 10.0))
      .toDF("sr", "sg", "sid", "lo", "hi")
    def q() = ev.join(se, col("r") === col("sr") && col("g") === col("sg") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy("sid").agg(count(lit(1)).as("cnt"))
    assert(PlanShape(q()).has[RangeAggPrefixExec])
    val got = rows2(q())
    assert(got == withPrefixOff(rows2(q())))
    assert(got == Set((10L, 1L), (30L, 1L))) // (a,2) band misses; (b,2) empty
  }

  test("keyed prefix: grouping by the equi key itself works (iv-side attr)") {
    def q() = events.join(sessions, col("euser") === col("suser") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy("suser").agg(count(lit(1)).as("cnt"))
    assert(PlanShape(q()).has[RangeAggPrefixExec])
    val got = q().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == withPrefixOff(
      q().collect().map(r => (r.getString(0), r.getLong(1))).toSet))
    assert(got == Set(("u1", 4L), ("u2", 2L)))
  }

  test("keyed prefix: grouping by the POINT-side key substitutes the iv twin") {
    // GROUP BY e.user (point side) is the same query as GROUP BY
    // s.user: the two sides of an equi key are equal on every
    // qualifying pair, so the rewrite swaps in the iv-side attr with
    // an exprId-preserving alias and the prefix still fires
    def qPt() = events.join(sessions, col("euser") === col("suser") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy("euser").agg(count(lit(1)).as("cnt"))
    assert(PlanShape(qPt()).has[RangeAggPrefixExec], PlanShape(qPt()))
    val got = qPt().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == withPrefixOff(
      qPt().collect().map(r => (r.getString(0), r.getLong(1))).toSet))
    assert(got == Set(("u1", 4L), ("u2", 2L)))
    // the output column keeps its NAME and can be referenced upstream
    assert(qPt().columns.toSeq == Seq("euser", "cnt"))
    assert(qPt().filter(col("euser") === "u1").count() == 1)
  }

  test("keyed band declines: same-side equi, null-safe <=>") {
    // an equi conjunct INSIDE one side is not a cross-side key — but
    // Catalyst pushes it into that side as a Filter before this rule
    // runs, leaving a clean two-conjunct band: the prefix legitimately
    // fires WITH the pushed filter, so the gate here is parity (and
    // that detectKeyedBand itself would decline the raw shape — the
    // pushdown, not the key path, is what keeps it rewritable)
    def qSame() = events.join(sessions, col("lo") === col("hi") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy("sid").agg(count(lit(1)).as("cnt"))
    assert(rows2(qSame()) == withPrefixOff(rows2(qSame())))
    // null-safe equality matches null <=> null — different semantics
    // from the keyed stream's null-key drop; must decline
    def qNs() = events.join(sessions, col("euser") <=> col("suser") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy("sid").agg(count(lit(1)).as("cnt"))
    assert(!PlanShape(qNs()).has[RangeAggPrefixExec])
    assert(rows2(qNs()) == withPrefixOff(rows2(qNs())))
  }

  test("keyed band SQL surface: equi + BETWEEN under GROUP BY gets the prefix") {
    events.createOrReplaceTempView("r18_events")
    sessions.createOrReplaceTempView("r18_sessions")
    def q() = spark.sql(
      """SELECT sid, count(*) AS cnt FROM r18_events e
        |JOIN r18_sessions s
        |  ON e.euser = s.suser AND e.ts BETWEEN s.lo AND s.hi
        |GROUP BY sid""".stripMargin)
    assert(PlanShape(q()).has[RangeAggPrefixExec], PlanShape(q()))
    assert(rows2(q()) == withPrefixOff(rows2(q())))
  }

  test("keyed prefix equals join truth on adversarial randoms") {
    // many keys × many duplicate sessions per key, boundary-heavy
    // values, inverted/degenerate bands — across seeds; truth is the
    // join form with the rewrite disabled
    for (seed <- Seq(11, 12)) {
      val rng = new scala.util.Random(seed)
      val ev = (0 until 300).map { i =>
        (rng.nextInt(12).toLong, rng.nextInt(40).toDouble, i.toLong)
      }.toDF("ek", "ts", "amount")
      val se = (0 until 80).map { i =>
        val lo = rng.nextInt(40).toDouble
        (rng.nextInt(14).toLong, i.toLong, lo,
          lo + rng.nextInt(12) - 2) // some inverted
      }.toDF("sk", "sid", "lo", "hi")
      def q() = ev.join(se, col("ek") === col("sk") &&
          col("ts") >= col("lo") && col("ts") <= col("hi"))
        .groupBy("sid").agg(count(lit(1)).as("cnt"),
          sum(col("amount")).as("s"))
      assert(PlanShape(q()).has[RangeAggPrefixExec])
      assert(rows3n(q()) == withPrefixOff(rows3n(q())), s"seed=$seed")
    }
  }

  // ---- r19: min/max(f)-over-band-join auto rewrite -------------------

  test("min/max of a NON-point column over an int-pt band join plans the value scan") {
    val pts = Seq((1, 10.5), (5, -2.0), (7, 99.0), (12, 3.25), (20, 7.0))
      .toDF("k", "amount")
    val ivs = Seq((100L, 0, 8), (200L, 6, 15), (300L, 30, 40))
      .toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("k") >= col("lo") && col("k") <= col("hi"))
      .groupBy("iid")
      .agg(min(col("amount")).as("mn"), max(col("amount")).as("mx"))
    val p = PlanShape(q())
    assert(p.has[RangeValueExtremaExec], p)
    assert(!p.has[BroadcastNestedLoopJoinExec], p)
    val got = q().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val truth = withPrefixOff(q().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet)
    assert(got == truth)
    // [0,8]: k∈{1,5,7} → (−2, 99); [6,15]: k∈{7,12} → (3.25, 99)
    assert(got == Set((100L, -2.0, 99.0), (200L, 3.25, 99.0)))
  }

  test("value-extrema rewrite: nullable f keeps all-null groups via the count frame") {
    val pts = Seq[(Integer, java.lang.Double)]((1, null), (2, null),
      (10, 5.0), (11, null)).toDF("k", "amount")
    val ivs = Seq((100L, 0, 5), (200L, 9, 12), (300L, 50, 60))
      .toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("k") >= col("lo") && col("k") <= col("hi"))
      .groupBy("iid").agg(max(col("amount")).as("mx"))
    val p = PlanShape(q())
    assert(p.has[RangeValueExtremaExec] && p.has[RangeAggPrefixExec], p)
    val got = q().collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val truth = withPrefixOff(q().collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap)
    assert(got == truth)
    // group 100's qualifying points are ALL null-f: row kept, extrema
    // null — exactly the join form; group 300 matches nothing: dropped
    assert(got == Map(100L -> None, 200L -> Some(5.0)))
  }

  test("value-extrema rewrite: KEYED band fires; floating pt and mixed aggs decline") {
    val pts = Seq((1L, 3, 10.0), (1L, 7, 20.0), (2L, 3, 99.0))
      .toDF("pk", "k", "amount")
    val ivs = Seq((100L, 1L, 0, 8), (200L, 2L, 0, 8))
      .toDF("iid", "ik", "lo", "hi")
    def keyedQ() = pts.join(ivs, col("pk") === col("ik") &&
        col("k") >= col("lo") && col("k") <= col("hi"))
      .groupBy("iid").agg(max(col("amount")).as("mx"))
    assert(PlanShape(keyedQ()).has[RangeValueExtremaExec], PlanShape(keyedQ()))
    assert(keyedQ().collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSet == Set((100L, 20.0), (200L, 99.0)))
    // floating pt: NaN points would need the operator's data probe —
    // the pure logical rewrite must decline
    val dpts = Seq((3.0, 10.0), (7.0, 20.0)).toDF("k", "amount")
    val divs = Seq((100L, 0.0, 8.0)).toDF("iid", "lo", "hi")
    def dq() = dpts.join(divs,
        col("k") >= col("lo") && col("k") <= col("hi"))
      .groupBy("iid").agg(max(col("amount")).as("mx"))
    assert(!PlanShape(dq()).has[RangeValueExtremaExec])
    // mixed count + extrema: neither rewrite owns it — join stands,
    // answer still correct
    def mixedQ() = pts.join(ivs, col("pk") === col("ik") &&
        col("k") >= col("lo") && col("k") <= col("hi"))
      .groupBy("iid")
      .agg(count(lit(1)).as("c"), max(col("amount")).as("mx"))
    assert(!PlanShape(mixedQ()).has[RangeValueExtremaExec] &&
      !PlanShape(mixedQ()).has[RangeAggPrefixExec])
    assert(mixedQ().collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set((100L, 2L, 20.0), (200L, 1L, 99.0)))
  }

  test("value-extrema rewrite: int f casts back exactly; strict bounds decline") {
    val pts = Seq((1, 100), (5, -7), (7, 42)).toDF("k", "score")
    val ivs = Seq((10L, 0, 6), (20L, 6, 9)).toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("k") >= col("lo") && col("k") <= col("hi"))
      .groupBy("iid").agg(min(col("score")).as("mn"))
    assert(PlanShape(q()).has[RangeValueExtremaExec])
    val got = q().collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((10L, -7), (20L, 42))) // IntegerType preserved
    def strictQ() = pts.join(ivs,
        col("k") > col("lo") && col("k") <= col("hi"))
      .groupBy("iid").agg(min(col("score")).as("mn"))
    assert(!PlanShape(strictQ()).has[RangeValueExtremaExec])
    assert(strictQ().collect().map(r => (r.getLong(0), r.getInt(1)))
      .toSet == Set((10L, -7), (20L, 42)))
  }

  // ---- r19: count-over-overlap-join auto rewrite ---------------------
  // fixtures go through parquet: a LocalRelation's filters are
  // constant-folded by ConvertToLocalRelation before the rule could
  // observe the validity proof (same trick as DedupComputeRewriteSpec)

  private def viaParquet(df: DataFrame, name: String): DataFrame = {
    val p = graft.core.Util.scratchDir("graft_ovl")
      .resolve(name).toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }
  private lazy val aIvRaw = viaParquet(
    Seq((1L, 0.0, 10.0), (1L, 20.0, 30.0), (2L, 100.0, 200.0),
      (3L, 5.0, 4.0), (4L, 10.0, 12.0)).toDF("aid", "alo", "ahi"), "a")
  private lazy val bIvRaw = viaParquet(
    Seq((0.0, 1.0), (10.0, 20.0), (-5.0, 50.0), (8.0, 2.0),
      (25.0, 25.0)).toDF("blo", "bhi"), "b") // (8, 2) inverted

  test("count over an overlap join auto-plans three prefix frames when validity is proven") {
    val a = aIvRaw.filter(col("alo") <= col("ahi"))
    val b = bIvRaw.filter(col("blo") <= col("bhi"))
    def q() = a.join(b, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .groupBy("aid").agg(count(lit(1)).as("overlap_cnt"))
    val p = PlanShape(q())
    assert(p.of[RangeAggPrefixExec].size >= 3, p)
    assert(!p.has[BroadcastNestedLoopJoinExec] &&
      !p.has[CartesianProductExec], p)
    val got = rows2(q())
    assert(got == withPrefixOff(rows2(q())))
    assert(got == Set((1L, 6L), (4L, 2L))) // hand-checked (RangeAggSpec)
    // operator parity: the rewrite and the explicit operator are the
    // same decomposition
    val op = graft.ops.RangeAgg.intervalOverlapAgg(aIvRaw, "aid",
        "alo", "ahi", bIvRaw, "blo", "bhi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(op == got)
  }

  test("overlap rewrite declines without proven validity - injection would be WRONG") {
    // counterexample pinning why the rewrite must NOT inject the
    // validity filters itself: the inverted a = [5, 3] still satisfies
    // the raw predicate against b = [2, 6] (5 <= 6 AND 2 <= 3), so the
    // filtered and unfiltered queries are DIFFERENT queries
    val a = viaParquet(Seq((7L, 5.0, 3.0)).toDF("aid", "alo", "ahi"),
      "inv_a") // inverted
    val b = viaParquet(Seq((2.0, 6.0)).toDF("blo", "bhi"), "inv_b")
    def naive() = a.join(b,
        col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .groupBy("aid").agg(count(lit(1)).as("c"))
    // the raw join REALLY matches the inverted row...
    assert(rows2(naive()) == Set((7L, 1L)))
    // ...so the rewrite must leave the unfiltered shape alone
    assert(!PlanShape(naive()).has[RangeAggPrefixExec], PlanShape(naive()))
    // ...and the filtered shape (which DOES rewrite) answers the
    // different, filtered question
    def filtered() = a.filter(col("alo") <= col("ahi"))
      .join(b.filter(col("blo") <= col("bhi")),
        col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .groupBy("aid").agg(count(lit(1)).as("c"))
    assert(PlanShape(filtered()).has[RangeAggPrefixExec], PlanShape(filtered()))
    assert(rows2(filtered()).isEmpty)
  }

  test("KEYED overlap count auto-rewrites (equi + overlap conjuncts)") {
    val a = viaParquet(Seq((1L, 10L, 0.0, 10.0), (1L, 10L, 20.0, 30.0),
        (2L, 20L, 0.0, 100.0)).toDF("aid", "ak", "alo", "ahi"), "k_a")
      .filter(col("alo") <= col("ahi"))
    val b = viaParquet(Seq((10L, 5.0, 25.0), (30L, 0.0, 100.0))
      .toDF("bk", "blo", "bhi"), "k_b").filter(col("blo") <= col("bhi"))
    def q() = a.join(b, col("ak") === col("bk") &&
        col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .groupBy("aid").agg(count(lit(1)).as("c"))
    val p = PlanShape(q())
    assert(p.of[RangeAggPrefixExec].size >= 3, p)
    assert(p.rangeShuffles("_graft_k0").nonEmpty, p) // keys lead the range sorts
    val got = rows2(q())
    assert(got == withPrefixOff(rows2(q())))
    assert(got == Set((1L, 2L)))
  }

  test("overlap rewrite declines: strict bounds, global aggregate, non-count aggs") {
    val a = aIvRaw.filter(col("alo") <= col("ahi"))
    val b = bIvRaw.filter(col("blo") <= col("bhi"))
    def strictQ() = a.join(b,
        col("alo") < col("bhi") && col("blo") < col("ahi"))
      .groupBy("aid").agg(count(lit(1)).as("c"))
    assert(!PlanShape(strictQ()).has[RangeAggPrefixExec])
    def globalQ() = a.join(b,
        col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .agg(count(lit(1)).as("c"))
    assert(!PlanShape(globalQ()).has[RangeAggPrefixExec])
    def sumQ() = a.join(b,
        col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .groupBy("aid").agg(sum(col("bhi")).as("s"))
    assert(!PlanShape(sumQ()).has[RangeAggPrefixExec])
    // and each decline still answers correctly through the join
    assert(rows2(strictQ()).nonEmpty &&
      globalQ().collect().head.getLong(0) > 0)
  }

  test("overlap rewrite SQL surface: WHERE-validity subqueries prove it") {
    aIvRaw.createOrReplaceTempView("r19_aiv")
    bIvRaw.createOrReplaceTempView("r19_biv")
    def q() = spark.sql(
      """SELECT a.aid, count(*) AS c
        |FROM (SELECT * FROM r19_aiv WHERE alo <= ahi) a
        |JOIN (SELECT * FROM r19_biv WHERE blo <= bhi) b
        |  ON a.alo <= b.bhi AND b.blo <= a.ahi
        |GROUP BY a.aid""".stripMargin)
    assert(PlanShape(q()).has[RangeAggPrefixExec], PlanShape(q()))
    assert(rows2(q()) == Set((1L, 6L), (4L, 2L)))
  }
}
