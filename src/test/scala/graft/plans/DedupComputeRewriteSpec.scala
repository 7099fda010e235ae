package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The automatic dedup-compute rewrite: a Project evaluating an
  * expensive kernel over a column must plan as
  * distinct → compute → join-back when the conf is on, produce the
  * naive plan's exact rows, and leave cheap / non-deterministic /
  * already-distinct shapes untouched. */
class DedupComputeRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.graft.dedupCompute.enabled"

  private def withRule[T](body: => T): T = {
    spark.conf.set(Key, "true")
    try body finally spark.conf.unset(Key)
  }

  // 60 rows over 3 distinct codes, plus a null key row (the inner
  // join-back must keep it: <=> not =). Through parquet: a
  // LocalRelation is constant-folded by ConvertToLocalRelation before
  // any rewrite could be observed
  private lazy val docsPath: String = {
    val p = graft.core.Util.scratchDir("graft_dcr")
      .resolve("docs").toString
    ((0 until 60).map(i => (i.toLong, s"code_${i % 3}")) :+
      (60L, null.asInstanceOf[String])).toDF("id", "code")
      .write.mode("overwrite").parquet(p)
    p
  }
  private def docs = spark.read.parquet(docsPath)

  private def expensiveProj(): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    docs.select(col("id"), col("code"),
      call_function("graft_ws_token_count",
        coalesce(col("code"), lit("none"))).as("toks"))
  }

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("expensive projection rewrites to distinct-compute-join-back, same rows") {
    val naive = expensiveProj().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(!optimized(expensiveProj()).contains("Join"))
    withRule {
      val plan = optimized(expensiveProj())
      assert(plan.contains("Join"), plan)
      assert(plan.contains("Aggregate"), plan)
      // the kernel must live in the distinct-aggregate branch (evaluated
      // once per distinct key — CollapseProject merges it INTO the
      // Aggregate), never in the outer per-row projection
      val lines = plan.linesIterator.toSeq
      val kernelLine = lines.indexWhere(_.contains("graft_ws_token_count"))
      val aggLine = lines.indexWhere(_.contains("Aggregate"))
      assert(!lines.head.contains("graft_ws_token_count"), plan)
      assert(kernelLine >= 0 && aggLine >= 0 && kernelLine >= aggLine,
        s"kernel not hoisted over the distinct:\n$plan")
      val got = expensiveProj().collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(got == naive)
      assert(got.size == 61) // null-key row survived the join-back
    }
  }

  test("idempotent under the fixpoint: exactly one join-back") {
    withRule {
      val plan = optimized(expensiveProj())
      assert("Join".r.findAllIn(plan).size == 1, plan)
    }
  }

  test("cheap projections and distinct inputs stay untouched") {
    withRule {
      // cheap builtin: no kernel, no rewrite
      val cheap = docs.select(col("id"), length(col("code")).as("n"))
      assert(!optimized(cheap).contains("Join"))
      // already distinct on the key: recompute-per-distinct is a no-op
      graft.expr.GraftFunctions.ensureRegistered(spark)
      val dist = docs.select("code").distinct()
        .select(col("code"),
          call_function("graft_ws_token_count",
            coalesce(col("code"), lit("x"))).as("toks"))
      assert(!optimized(dist).contains("Join"))
    }
  }

  test("non-deterministic inputs are never duplicated across the join") {
    withRule {
      graft.expr.GraftFunctions.ensureRegistered(spark)
      // `r` stays in the output, so the rand survives pruning and the
      // child must NOT be duplicated across a join (each side would draw
      // different numbers)
      val nondet = docs.withColumn("r", rand(7))
        .select(col("id"), col("code"), col("r"),
          call_function("graft_ws_token_count",
            coalesce(col("code"), lit("x"))).as("toks"))
      assert(!optimized(nondet).contains("Join"))
    }
  }

  test("auto default: declines when no column statistics exist") {
    // default mode is cost-based ("auto"); the path-read parquet fixture
    // has no ANALYZE stats, so the gate declines conservatively — the
    // pre-r13 "off by default" behavior for un-analyzed data
    assert(spark.conf.getOption(Key).isEmpty)
    assert(!optimized(expensiveProj()).contains("Join"))
  }

  test("explicit false disables even under force-worthy shapes") {
    spark.conf.set(Key, "false")
    try assert(!optimized(expensiveProj()).contains("Join"))
    finally spark.conf.unset(Key)
  }

  test("auto mode: stats-proven win fires, measured-loss regimes decline") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      graft.core.Util.dropTableAndLocation(spark, "dcr_auto_r13")
      // 10k rows, 10 distinct ~1.2KB texts (dup factor 1000) plus a
      // near-unique long column and a 10-distinct SHORT column — the
      // PLANS.md calibration `dedupc` regimes in fixture form
      spark.range(10000).selectExpr(
        "id",
        "repeat(concat('tok', cast(id % 10 as string), ' '), 240) AS text",
        "concat(repeat('pad ', 300), cast(id as string)) AS utext",
        "concat('s', cast(id % 10 as string)) AS stext")
        .write.mode("overwrite").saveAsTable("dcr_auto_r13")
      spark.sql("ANALYZE TABLE dcr_auto_r13 COMPUTE STATISTICS " +
        "FOR COLUMNS text, utext, stext")
      val tbl = spark.table("dcr_auto_r13")

      // WIN: pairwise difflib kernel × dup factor 1000 × ~1.2KB on BOTH
      // sides — (n-d)·0.25·lenA·lenB ≈ 3.7 s clears n·probe + fixed
      // ≈ 1.2 s. The reference must be LONG: the cost model is
      // per-char-PAIR, so a short literal is correctly cheap
      val longRef = "tok0 tok1 " * 120
      def win = tbl.select(col("id"),
        call_function("graft_seq_ratio", col("text"),
          lit(longRef)).as("r"))
      val winPlan = optimized(win)
      assert(winPlan.contains("Join") && winPlan.contains("Aggregate"),
        winPlan)
      // and the fired rewrite returns the naive rows exactly
      val naive = {
        spark.conf.set(Key, "false")
        try win.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        finally spark.conf.unset(Key)
      }
      assert(win.collect().map(r =>
        (r.getLong(0), r.getDouble(1))).toSet == naive)

      // LOSS 1: the bit-parallel levenshtein kernel (~0.007 ns per
      // char-pair) never clears the break-even even on long-vs-long —
      // measured 0.3 s naive vs 1.8 s rewritten at x100
      def cheap = tbl.select(col("id"),
        call_function("graft_levenshtein", col("text"),
          lit(longRef)).as("d"))
      assert(!optimized(cheap).contains("Join"), optimized(cheap))

      // LOSS 2: expensive kernel over a NEAR-UNIQUE key — savings
      // (n-d)·c ≈ 0, the rewrite would recompute everything anyway
      def uniq = tbl.select(col("id"),
        call_function("graft_seq_ratio", col("utext"),
          lit(longRef)).as("r"))
      assert(!optimized(uniq).contains("Join"), optimized(uniq))

      // LOSS 3: a SHORT reference against the long column — the kernel
      // cost is per char-PAIR (O(|a|·|b|)), so long-vs-short is CHEAP
      // even though the column is 1.2KB; squaring the column length
      // alone would fire on this measured-loss shape
      def shortRef = tbl.select(col("id"),
        call_function("graft_seq_ratio", col("text"),
          lit("tok0 tok1 tok2")).as("r"))
      assert(!optimized(shortRef).contains("Join"), optimized(shortRef))

      // LOSS 4: long COLUMN vs short COLUMN — each operand must be
      // costed from the avgLen of the columns IT references; summing
      // the whole key group's avgLen into both sides would estimate
      // 0.25·(lenA+lenB)² instead of 0.25·lenA·lenB and fire on this
      // measured-loss shape (r13 ADVICE)
      def twoCol = tbl.select(col("id"),
        call_function("graft_seq_ratio", col("text"),
          col("stext")).as("r"))
      assert(!optimized(twoCol).contains("Join"), optimized(twoCol))

      // the conf override still forces the loss shapes (data may defy
      // the estimate — the user keeps the last word)
      withRule {
        assert(optimized(cheap).contains("Join"))
      }
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      graft.core.Util.dropTableAndLocation(spark, "dcr_auto_r13")
    }
  }

  test("auto mode probes stats-less parquet (r14): win fires, losses " +
    "decline, linear classes and oversized relations stay out") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    // NO ANALYZE, NO cbo: the shape the catalog-stats gate could never
    // see — the bounded probe job supplies (n, d, avgLen) instead
    val probeRoot = graft.core.Util.scratchDir("graft_dcr_probe")
    val p = probeRoot.resolve("docs").toString
    try {
    spark.range(10000).selectExpr(
      "id",
      "repeat(concat('tok', cast(id % 10 as string), ' '), 240) AS text",
      "concat(repeat('pad ', 300), cast(id as string)) AS utext")
      .write.mode("overwrite").parquet(p)
    val tbl = spark.read.parquet(p)
    val longRef = "tok0 tok1 " * 120
    def win = tbl.select(col("id"),
      call_function("graft_seq_ratio", col("text"), lit(longRef)).as("r"))
    val winPlan = optimized(win)
    assert(winPlan.contains("Join") && winPlan.contains("Aggregate"), winPlan)
    // and the fired rewrite returns the naive rows exactly
    val naive = {
      spark.conf.set(Key, "false")
      try win.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      finally spark.conf.unset(Key)
    }
    assert(win.collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSet == naive)
    // near-unique key: the probe MEASURES d ~ n and declines
    def uniq = tbl.select(col("id"),
      call_function("graft_seq_ratio", col("utext"), lit(longRef)).as("r"))
    assert(!optimized(uniq).contains("Join"), optimized(uniq))
    // measured-loss kernel classes stay ANALYZE-gated (no probe scan):
    // regexp/JSON are linear, and the bit-parallel levenshtein — though
    // priced quadratically like seq_ratio — is ~36x cheaper per char
    // pair (0.007 vs 0.25 ns) and LOST at every `dedupc`-measured dup
    // factor at realistic lengths; a corpus that defies that still has
    // ANALYZE'd stats or the conf force as levers
    def lev = tbl.select(col("id"),
      call_function("graft_levenshtein", col("text"), lit(longRef)).as("d"))
    assert(!optimized(lev).contains("Join"), optimized(lev))
    // a size cap below the relation declines WITHOUT scanning (checked
    // before the cache, so the earlier win probe can't leak through)
    spark.conf.set("spark.graft.dedupCompute.probeMaxBytes", "1")
    try assert(!optimized(win).contains("Join"))
    finally spark.conf.unset("spark.graft.dedupCompute.probeMaxBytes")
    // a ScalaUDF is never probe-worthy (spark.ml wraps every transform
    // in a UDF over a near-unique key — UDF probing taxed every
    // ml/multimodal query, the r14 bench finding). The UDF fixture
    // needs 20k rows of ~4.8KB text for the 5µs+20ns/B UDF estimate to
    // clear the 1.2s fixed cost — at that size the decline is the
    // point being pinned
    val udfP = probeRoot.resolve("udocs").toString
    spark.range(20000).selectExpr("id",
      "repeat(concat('tok', cast(id % 10 as string), ' '), 600) AS text")
      .write.mode("overwrite").parquet(udfP)
    val udfTbl = spark.read.parquet(udfP)
    val heavy = udf { s: String => s.length } // interpreted, "expensive"
    def udfProj = udfTbl.select(col("id"), heavy(col("text")).as("r"))
    assert(!optimized(udfProj).contains("Join"), optimized(udfProj))
    } finally graft.core.Util.deleteRecursively(probeRoot)
  }

  test("per-row JSON parsing counts as expensive and rewrites") {
    val p = graft.core.Util.scratchDir("graft_dcr_json")
      .resolve("ev").toString
    (0 until 80).map(i => (i.toLong, s"""{"k": ${i % 4}}"""))
      .toDF("id", "props").write.mode("overwrite").parquet(p)
    val ev = spark.read.parquet(p)
    def proj = ev.select(col("id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
    val naive = proj.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(!optimized(proj).contains("Join"))
    withRule {
      val plan = optimized(proj)
      assert(plan.contains("Join") && plan.contains("Aggregate"), plan)
      val got = proj.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == naive && got.size == 80)
    }
  }

  test("a subquery under the child bails (its plan evades the " +
    "expression-level determinism check)") {
    withRule {
      graft.expr.GraftFunctions.ensureRegistered(spark)
      docs.createOrReplaceTempView("dcr_subq_docs")
      // rand() lives in the SUBQUERY's plan: InSubquery.deterministic
      // only inspects the outer-reference children, so without the
      // plan-level subquery guard the rewrite would duplicate the child
      // and each copy's subquery could draw different rows — silent row
      // loss through the inner join-back. (rand() < 2 keeps every row,
      // so the VALUE assertion is deterministic; only the plan is at
      // stake.)
      val df = spark.sql(
        """SELECT id, code,
          |  graft_ws_token_count(coalesce(code, 'none')) AS toks
          |FROM dcr_subq_docs
          |WHERE id IN (SELECT id FROM dcr_subq_docs WHERE rand() < 2.0)
          |""".stripMargin)
      // the rule's fingerprint is the distinct Aggregate it introduces;
      // the subquery itself optimizes to a semi-join, so assert on
      // Aggregate, not Join
      val oplan = df.queryExecution.optimizedPlan
      assert(!oplan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
        case _ => false
      }, oplan.toString)
      assert(df.count() == 61)
    }
  }
}
