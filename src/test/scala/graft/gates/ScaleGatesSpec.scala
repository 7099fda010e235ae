package graft.gates

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The scale-portable gate library (r14): branch detection, flag
  * semantics, and the three measurement gates on frames small enough
  * to hand-verify. The REGISTERED queries' fixture/off-fixture arms are
  * hash-gated end-to-end by Verify at sf0.01/sf0.1/sf1; this spec pins
  * the gate building blocks themselves so a refactor can't silently
  * change what a flag means. */
class ScaleGatesSpec extends SparkSpec {
  import spark.implicits._

  test("flag: 1.0 iff the metric clears the floor; failures emit the " +
    "readable measurement, never an accidental 1.0") {
    assert(ScaleGates.flag(0.95, 0.9) == 1.0)
    assert(ScaleGates.flag(0.9, 0.9) == 1.0) // floor is inclusive
    assert(ScaleGates.flag(0.85, 0.9) == 0.85)
    // a failing metric that ROUNDS to the pass value must not collide
    assert(ScaleGates.flag(0.99996, 1.0) == 0.9999)
  }

  test("atFixture keys on the live row count") {
    assert(ScaleGates.atFixture(spark, sfDir, "documents")) // 500 rows
    assert(!ScaleGates.atFixture(spark, sfDir, "nation")) // 25 rows
    assert(ScaleGates.atFixture(spark, sfDir, "nation", expected = 25L))
  }

  test("recallFlagFrame over annTopK: perfect recall on a corpus the LSH " +
    "config fully buckets; emits (-1, 1.0) and the cross-engine count row") {
    // 40 near-orthogonal-ish deterministic vectors: with 12 bands x 3
    // bits the join returns every candidate (tiny corpus, every pair
    // shares some band), so approx == brute force and recall == 1
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d * 0.9).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val ctx = ScaleGates.annCtx(emb, "vec_id", "embedding",
      dirKey = "spec-batched", n = 40L, nq = 5, k = 5)
    val out = ScaleGates.recallFlagFrame(ctx, graft.dedup.Similarity.annTopK(
        ctx.corpus, "vec_id", "embedding", ctx.queries, 5), floor = 0.9)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(-1L) == 1.0, s"recall flag: ${out(-1L)}")
    assert(out(-2L) == 40.0)
    graft.core.SessionMemo.reset("llm_ann_topk")
  }

  test("annCtx: the shared exact table matches per-qid brute force, is " +
    "memoized per (dir, n), and the capped gate corpus keeps the qids") {
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(6)(d => math.cos(i * 0.83 + d * 1.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val ctx = ScaleGates.annCtx(emb, "vec_id", "embedding",
      dirKey = "spec-ctx", n = 60L, nq = 4, k = 5)
    assert(ctx.n == 60L && ctx.gateN == 60L) // below the cap: uncapped
    assert(ctx.queries.nonEmpty)
    // the one-pass table == nq independent brute-force scans (order too)
    ctx.queries.foreach { case q @ (qid, _) =>
      val bf = graft.dedup.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", Seq(q), 5)
        .select(col("vec_id").cast("long")).as[Long].collect().toSeq
      assert(ctx.exact(qid) == bf, s"qid=$qid: ${ctx.exact(qid)} vs $bf")
    }
    // memoized: the same (dir, n) returns the SAME instance, no rebuild
    val again = ScaleGates.annCtx(emb, "vec_id", "embedding",
      dirKey = "spec-ctx", n = 60L, nq = 4, k = 5)
    assert(again eq ctx)
    // recallFlagFrame failure path: an approx side that always misses
    val bad = ScaleGates.recallFlagFrame(ctx,
        ctx.queries.map(q => (q._1, -999L)).toDF("q_id", "vec_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(bad(-1L) == 0.0 && bad(-2L) == 60.0)
    // capped: the gate corpus shrinks to ~cap but every qid survives,
    // the exact table covers the SUB-corpus, and the cross-engine cell
    // still reports the FULL count
    val capped = ScaleGates.annCtx(emb, "vec_id", "embedding",
      dirKey = "spec-ctx-cap", n = 60L, nq = 4, k = 5, cap = 20L)
    assert(capped.gateN < 60L && capped.gateN >= capped.queries.length)
    val gateIds = capped.corpus.select(col("vec_id").cast("long"))
      .as[Long].collect().toSet
    assert(capped.queries.forall(q => gateIds.contains(q._1)))
    assert(capped.exact.values.forall(_.forall(gateIds.contains)))
    val frame = ScaleGates.recallFlagFrame(capped,
        capped.exact.toSeq.flatMap { case (q, ids) => ids.map(q -> _) }
          .toDF("q_id", "vec_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(frame(-1L) == 1.0 && frame(-2L) == 60.0)
    graft.core.SessionMemo.reset("llm_ann_topk")
  }

  test("dbscanAriGate: identical labelings score ARI 100; a corrupted " +
    "labeling fails loudly with the measured value") {
    val pts = (0L until 30L).map { i =>
      val c = (i % 3).toDouble * 10.0
      (i, Seq(c + (i % 5) * 0.01f, c - (i % 7) * 0.01f).map(_.toFloat))
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val exact = graft.ml.Dbscan.exactOnFrame(
      pts, "vec_id", "embedding", eps = 1.0, minPts = 3)
    val perfect = ScaleGates.dbscanAriGate(pts, "vec_id", "embedding",
      exact, eps = 1.0, minPts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perfect(-1L) == 100L)
    assert(perfect(-2L) == 30L)
    // corrupt half the labels: ARI collapses, the gate reports it
    val corrupted = exact.withColumn("label",
      when(col("vec_id") % 2 === 0, col("vec_id")).otherwise(col("label")))
    val bad = ScaleGates.dbscanAriGate(pts, "vec_id", "embedding",
      corrupted, eps = 1.0, minPts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bad(-1L) < 100L, s"ari cell: ${bad(-1L)}")
  }

  test("mmrGate: a well-formed rerank passes; a rank list whose first " +
    "pick is not the brute-force top-1 fails") {
    val emb = (0L until 20L).map { i =>
      (i, Seq.tabulate(4)(d => ((i + 1) * (d + 1) % 7).toFloat))
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val q = emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
    val reranked = graft.dedup.Similarity.mmrRerank(
      emb, "vec_id", "embedding", q, kCand = 15, k = 5)
    val ctx = ScaleGates.annCtx(emb, "vec_id", "embedding",
      dirKey = "spec-mmr", n = 20L, nq = 4, k = 5)
    val ok = ScaleGates.mmrGate(emb, "vec_id", "embedding", reranked,
      ctx, k = 5).collect()
      .map(r => (r.getInt(0), r.getDouble(2))).toMap
    assert(ok(-1) == 1.0)
    // swap ranks 1 and 2: pick #1 is no longer the relevance argmax
    val swapped = reranked.withColumn("rank",
      when(col("rank") === 1, 2).when(col("rank") === 2, 1)
        .otherwise(col("rank")))
    val bad = ScaleGates.mmrGate(emb, "vec_id", "embedding", swapped,
      ctx, k = 5).collect()
      .map(r => (r.getInt(0), r.getDouble(2))).toMap
    assert(bad(-1) == 0.0)
    graft.core.SessionMemo.reset("llm_ann_topk")
  }

  test("off-fixture gate arms at sf0.1 take the live route: every flag " +
    "row reads 1.0 and the count row 2000") {
    val dir = sfDir.stripSuffix("sf0.001") + "sf0.1" // 2000 embeddings
    try {
      for (name <- Seq("llm_cosine_topk_i8", "llm_ann_topk", "llm_ivf_topk",
          "llm_pq_topk")) {
        val out = graft.SparkEntry.queries(name)(spark, dir).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toMap
        assert(out == Map(-1L -> 1.0, -2L -> 2000.0), s"$name: $out")
      }
      val mmr = graft.SparkEntry.queries("llm_mmr_rerank")(spark, dir)
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2))))
        .toMap
      assert(mmr == Map(-1 -> ((-1L, 1.0)), -2 -> ((2000L, 0.0))),
        s"llm_mmr_rerank: $mmr")
    } finally graft.core.SessionMemo.reset("llm_ann_topk")
  }
}
