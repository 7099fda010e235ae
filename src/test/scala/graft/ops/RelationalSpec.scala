package graft.ops

import graft.{PlanShape, SparkSpec}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def sales = Seq(
    ("a", "x", 10), ("a", "y", 20), ("a", "x", 30),
    ("b", "x", 40), ("b", "y", 50), ("c", "x", 60)).toDF("k", "g", "v")

  test("requireBounded: passes under the cap, throws past it, returns input") {
    val df = (1 to 10).map(i => (i, s"r$i")).toDF("id", "s")
    // under: the frame comes back unchanged for chaining
    assert(Relational.requireBounded(df, cap = 10, what = "t").count() == 10)
    // past: the guard must throw BEFORE any quadratic work can run
    val e = intercept[IllegalArgumentException] {
      Relational.requireBounded(df, cap = 9, what = "t_over")
    }
    assert(e.getMessage.contains("t_over") && e.getMessage.contains("9"))
  }

  test("valueCounts: descending with deterministic tie-break") {
    val r = Relational.valueCounts(sales, "k").as[(String, Long)].collect()
    assert(r.toSeq == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("topK plans as TakeOrderedAndProject (no full sort at scale)") {
    val plan = PlanShape(Relational.topK(sales, "k", 2))
    assert(plan.has[TakeOrderedAndProjectExec], s"unexpected plan:\n$plan")
  }

  test("semiJoinTopN keeps only rows of top-n keys") {
    val r = Relational.semiJoinTopN(sales, "k", 2)
      .select("k").distinct().as[String].collect().sorted
    assert(r.toSeq == Seq("a", "b"))
  }

  test("shareOfTotal divides by the GLOBAL total, not the top-n total") {
    val r = Relational.shareOfTotal(sales, "k", 2)
      .select("k", "share").as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 3.0 / 6.0) < 1e-12)
    assert(math.abs(r("b") - 2.0 / 6.0) < 1e-12)
  }

  test("topNPerGroup drops the helper column and keeps n per group") {
    val r = Relational.topNPerGroup(sales, "g", desc("v"), col("k"), 2)
    assert(!r.columns.contains("rn"))
    val counts = r.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ <= 2))
  }

  test("dedupCompute equals direct compute (inner-join identity)") {
    val direct = sales.withColumn("kl", length($"k"))
      .select("k", "g", "v", "kl").orderBy("k", "g", "v")
    val viaDedup = Relational.dedupCompute(sales, "k")(u =>
        u.withColumn("kl", length($"k")))
      .select("k", "g", "v", "kl").orderBy("k", "g", "v")
    assert(direct.collect().toSeq == viaDedup.collect().toSeq)
  }

  test("describeExact matches hand computation") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val r = Relational.describeExact(df, "x").head()
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1) - 2.5) < 1e-12)
    assert(math.abs(r.getDouble(2) - math.sqrt(5.0 / 3.0)) < 1e-12)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 4.0)
  }

  test("describeAll: duplicate column names throw IllegalArgumentException") {
    val e = intercept[IllegalArgumentException] {
      Relational.describeAll(sales, Seq("v", "k", "v"))
    }
    assert(e.getMessage.contains("duplicate columns"))
    // distinct names describe one row per column
    assert(Relational.describeAll(sales, Seq("k", "v")).count() == 2)
  }

  test("skewSafeJoin equals the plain join result") {
    val dim = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "dimv")
    val plain = sales.join(dim, "k").select("k", "g", "v", "dimv")
      .orderBy("k", "g", "v").collect().toSeq
    val salted = Relational.skewSafeJoin(sales, dim, "k", salt = 4)
      .select("k", "g", "v", "dimv").orderBy("k", "g", "v").collect().toSeq
    assert(salted == plain)
  }

  test("AQE skew handling actually splits the hot partition " +
    "(isSkewJoin pinned), and the salted twin needs no split") {
    // the PLANS.md calibration `skew` comparison (salted 2.5 s vs AQE-split
    // 5.1 s vs plain 5.3 s at x100) is only meaningful if the AQE arm
    // demonstrably splits — pin it on the executed plan's SMJ flag, not
    // on timing. 90% of fact rows on one key, broadcast disabled,
    // thresholds scaled down so the spec fixture trips the same
    // factor/threshold/advisory machinery the big run relies on.
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100k",
      // splitting must beat re-coalescing, and SMJ must not broadcast
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(0, 300000).select(
        when(col("id") % 10 < 9, lit(1L)).otherwise(col("id") % 100)
          .as("k"), (col("id") * 3).as("v"))
      val dim = spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 7).as("w"))
      // AQE decides skew at runtime: pin on the executed FINAL plan —
      // the join's isSkewJoin flag and the split shuffle reader
      def skewSplit(p: PlanShape) =
        p.of[SortMergeJoinExec].exists(_.isSkewJoin)
      val aqe = fact.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val aqePlan = PlanShape.executed(aqe)
      assert(aqePlan.has[SortMergeJoinExec], aqePlan)
      assert(skewSplit(aqePlan) &&
        aqePlan.of[AQEShuffleReadExec].exists(_.hasSkewedPartition),
        "AQE did not split the hot partition:\n" + aqePlan)
      // the salted form spreads the hot key BY CONSTRUCTION — same
      // answer, no skew split needed even with the machinery armed
      val salted = Relational.skewSafeJoin(fact, dim, "k", salt = 16)
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val saltedPlan = PlanShape.executed(salted)
      assert(!skewSplit(saltedPlan), saltedPlan)
      assert(salted.collect().toSeq.map(_.toString) ==
        aqe.collect().toSeq.map(_.toString))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("quantiles returns monotone approx percentiles") {
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val q = Relational.quantiles(df, "x").head().getSeq[Double](0)
    assert(q.length == 3)
    assert(q(0) <= q(1) && q(1) <= q(2))
    assert(math.abs(q(1) - 500.0) < 20)
  }

  test("distinctCountApprox within the HLL rsd=5% bound of exact (fixture)") {
    // the a2_distinct_approx registration's exact input: documents.text
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Relational.distinctCount(docs, "text").head().getLong(0)
    val approx = Relational.distinctCountApprox(docs, "text").head().getLong(0)
    val relErr = math.abs(approx - exact).toDouble / exact
    info(f"HLL distinct: exact=$exact approx=$approx relErr=$relErr%.4f")
    assert(relErr <= 0.05, f"HLL relative error $relErr%.4f exceeds rsd=0.05")
  }

  test("quantiles rank error within accuracy bound (eps = 1/accuracy)") {
    // on x = 1..n the value AT rank r is r, so the Greenwald-Khanna
    // guarantee |rank(approx) - rank(exact)| <= eps*n reads directly as
    // a value bound: |approx - exact_quantile| <= n/accuracy (+1 slack)
    val n = 100000
    val accuracy = 10000
    val df = (1 to n).map(_.toDouble).toDF("x")
    val q = Relational.quantiles(df, "x", accuracy = accuracy)
      .head().getSeq[Double](0)
    val eps = n.toDouble / accuracy
    val exact = Seq(0.25, 0.5, 0.75).map(_ * n)
    q.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a - e) <= eps + 1,
        f"quantile $a%.1f off exact $e%.1f by more than eps*n=$eps%.1f")
    }
    info(f"quantile abs errors: ${q.zip(exact).map(p => math.abs(p._1 - p._2)).mkString(", ")} (bound ${eps + 1}%.1f)")
  }

  test("typed Dataset loaders expose the fixed schemas") {
    val docs = graft.core.Schemas.documents(spark, sfDir)
    val first = docs.head()
    assert(first.n_chars == first.text.length)
    assert(graft.core.Schemas.embeddings(spark, sfDir).head().embedding.nonEmpty)
  }

  test("crosstabDiscover finds pivot values itself (pandas parity)") {
    val auto = Relational.crosstabDiscover(sales, "k", "g").orderBy("k")
    val explicit = Relational.crosstab(sales, "k", "g", Seq("x", "y")).orderBy("k")
    assert(auto.columns.toSeq == explicit.columns.toSeq)
    assert(auto.collect().toSeq == explicit.collect().toSeq)
  }

  test("crosstab counts match groupBy pairs") {
    val ct = Relational.crosstab(sales, "k", "g", Seq("x", "y"))
      .orderBy("k").collect()
    assert(ct.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(ct(0).getLong(1) == 2L && ct(0).getLong(2) == 1L) // a: x=2, y=1
    assert(ct(2).getLong(1) == 1L && ct(2).getLong(2) == 0L) // c: x=1, y=0
  }

  test("upsert: updates win on key clash, new keys append, rest intact") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B"), (4L, "d")).toDF("k", "v")
    val got = Relational.upsert(base, updates, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
  }

  test("applyCdc: update replaces, insert appends, delete removes") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq((2L, "B", "U"), (4L, "d", "I"), (3L, "", "D"))
      .toDF("k", "v", "op")
    val got = Relational.applyCdc(base, changes, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 4L -> "d"))
  }

  test("applyCdc: delete of an absent key is a no-op") {
    import spark.implicits._
    val base = Seq((1L, "a")).toDF("k", "v")
    val changes = Seq((9L, "", "D")).toDF("k", "v", "op")
    val got = Relational.applyCdc(base, changes, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a"))
  }

  test("applyCdc: a NULL op behaves as an upsert, never a silent delete") {
    import spark.implicits._
    // a null-UNSAFE op comparison would drop the row from the surviving
    // branch while its key still anti-joins the base row away
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val changes = Seq((2L, "B2", null: String)).toDF("k", "v", "op")
    val got = Relational.applyCdc(base, changes, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B2"))
  }
}
