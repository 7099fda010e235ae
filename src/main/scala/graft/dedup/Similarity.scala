package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline (one scan +
  * TakeOrderedAndProject — no shuffle of the vectors themselves); the
  * scale path buckets both sides with banded random-hyperplane LSH so the
  * join touches only same-bucket candidates.
  */
object Similarity {

  /** Dot product of two float/double-array columns — the native
    * graft.expr.GraftDot kernel (ordered double accumulation, so results
    * are bit-identical to the interpreted zip_with fold it replaced; the
    * HOF form dominated flagship profiles with per-element lambda
    * dispatch). Caller's session must have the graft functions registered
    * (extensions config or ensureRegistered — all DataFrame-level entry
    * points here do it). */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either side has zero norm (the reference's
    * empty-vector guard M11 made structural). Single fused native loop. */
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cos_sim", a, b)

  /** Exact brute-force cosine top-k against a literal query vector.
    * Plans as scan → project → TakeOrderedAndProject: at 100 TB this is
    * one pass over the vectors with a k-row result, no shuffle. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), cosine(col(vecCol), q).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion of ranked retrieval lists (hybrid search:
    * dense cosine + lexical BM25 being the canonical pair). Each input
    * is a top-k candidate list with columns (id, score); a result's
    * fused score is Σ 1/(kRrf + rank_i) over the lists that retrieved
    * it (the standard kRrf=60 damping), ranks broken (score desc, id).
    *
    * Scale: fusion runs AFTER per-list top-k pruning, so every frame
    * here is k rows, not corpus rows — the single-partition rank
    * windows and the full-outer join are bounded by Σk, intentionally
    * tiny. The heavy lifting (corpus scans) lives in the upstream
    * retrievers; this stage is deliberately cheap. Contributions are
    * summed in list order with missing lists coalesced to 0, so the fp
    * addition order is fixed and twin-exact.
    *
    * Duplicate ids within one list (a retriever bug upstream) collapse
    * to their best score BEFORE ranking — deduping after row_number
    * would let the duplicate occupy a rank slot and push every
    * lower-scored id's rank (and thus contribution) down, corrupting
    * the fused ranking relative to the duplicate-free list. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no lists")
    val ranked = lists.zipWithIndex.map { case (df, i) =>
      df.groupBy("id").agg(max(col("score")).as("score"))
        .select(col("id"), (lit(1.0) / (lit(kRrf.toDouble) +
          row_number().over(Window.orderBy(desc("score"), col("id")))))
        .as(s"_c$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val rrf = ranked.indices
      .map(i => coalesce(col(s"_c$i"), lit(0.0)))
      .reduce(_ + _)
    joined.select(col("id"), rrf.as("rrf"))
      .orderBy(desc("rrf"), col("id")).limit(k)
  }

  /** Maximal-marginal-relevance rerank: greedily pick k of the top-kCand
    * query matches, each step taking argmax of
    * `lambda·sim(q,d) − (1−lambda)·max_{s∈S} sim(d,s)` — relevance damped
    * by similarity to what's already selected, so near-duplicate hits
    * can't crowd the result list.
    *
    * Scale split: candidate generation is the distributed part (one
    * corpus scan → TakeOrderedAndProject, same plan as bruteForceTopK
    * but carrying the vectors); the greedy loop is inherently sequential
    * and runs on the DRIVER over the kCand collected rows — a bounded
    * k-row collect (the S8 bridge contract), never the corpus. Ties take
    * the better query-rank (strict-> comparison in candidate order), so
    * the selection is deterministic. */
  def mmrRerank(df: DataFrame, idCol: String, vecCol: String,
                query: Seq[Float], kCand: Int, k: Int,
                lambda: Double = 0.7): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    require(k >= 1 && kCand >= k, s"need kCand >= k >= 1, got kCand=$kCand k=$k")
    val q = array(query.map(v => lit(v)): _*)
    val cands = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        cosine(col(vecCol), q).as("q_sim"))
      .orderBy(desc("q_sim"), col("id"))
      .limit(kCand)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    // all three accumulators run over the SAME min-length range: with a
    // mismatched-length pair, a dot over min(len) against norms over the
    // full lengths is not a cosine of anything (and diverges from the
    // cosine SQL kernel that scored q_sim)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dot += a(i).toDouble * b(i)
        na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands.indices: _*)
    // incremental max-similarity-to-selected per candidate: each round
    // only folds in the newly picked vector — O(k·kCand) cosines total
    // instead of re-deriving the whole max every round (O(k²·kCand)).
    // Seeded at -∞, NOT 0: anti-correlated candidates earn a genuine
    // diversity BONUS (max cos < 0), which a 0 floor would clamp away;
    // every slot is max-updated before its first read (the
    // selected.isEmpty branch covers round 1)
    val maxSel = Array.fill(cands.length)(Double.NegativeInfinity)
    while (selected.size < math.min(k, cands.length)) {
      var bestPos = -1; var bestScore = Double.NegativeInfinity
      for (pos <- remaining.indices) {
        val ci = remaining(pos)
        val score = lambda * cands(ci)._3 -
          (if (selected.isEmpty) 0.0 else (1.0 - lambda) * maxSel(ci))
        if (score > bestScore) { bestScore = score; bestPos = pos }
      }
      val c = cands(remaining(bestPos))
      selected += ((c._1, c._2, bestScore))
      remaining.remove(bestPos)
      remaining.foreach { ci =>
        maxSel(ci) = math.max(maxSel(ci), cos(cands(ci)._2, c._2))
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, _, s), i) => (i + 1, id, math.round(s * 1e6) / 1e6) }
      .toDF("rank", "doc_id", "mmr_score")
  }

  /** Per-vector symmetric int8 quantization: codes = round(x/s) with
    * s = max|x|/127, emitted as `array<tinyint>` (+ the scale, for
    * callers that reconstruct magnitudes). 4× less storage/shuffle/cache
    * than float32 — the standard embedding-serving trade. COSINE needs no
    * dequantization at all (per-vector scales cancel), so quantized
    * search is [[quantizedTopK]]'s integer kernel over the codes; recall
    * vs float brute-force is spec-gated, not assumed (QuantizeSpec).
    * All-zero vectors quantize to all-zero codes (scale 0 guard). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
                   withScale: Boolean = true): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    // codes come from the single-pass native kernel (the HOF transform
    // formulation paid interpreted per-element lambdas — it buried the
    // downstream integer kernel, 5.1 s vs 0.77 s float at ×100); the
    // scale column is optional metadata for magnitude reconstruction
    val base = df.select(col(idCol),
      call_function("graft_quantize_i8", col(vecCol)).as("codes"),
      col(vecCol))
    if (withScale)
      base.select(col(idCol), col("codes"),
        (array_max(transform(col(vecCol), x => abs(x))) / lit(127.0f))
          .cast("float").as("q_scale"))
    else base.select(col(idCol), col("codes"))
  }

  /** Exact brute-force cosine top-k over int8 codes — the same
    * scan → TakeOrderedAndProject shape as [[bruteForceTopK]], but the
    * scan reads 4×-smaller vectors and the kernel is integer MAC
    * (graft_cos_sim_i8). Approximate only through quantization rounding
    * (recall@10 spec-gated ≥ 0.9 vs the float path). */
  def quantizedTopK(df: DataFrame, idCol: String, codesCol: String,
                    queryCodes: Seq[Byte], k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val q = array(queryCodes.map(v => lit(v)): _*)
    df.select(col(idCol),
        call_function("graft_cos_sim_i8", col(codesCol), q).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Batched [[quantizedTopK]]: every query rides ONE corpus pass (the
    * query codes are a foldable struct-array literal each row explodes
    * over — same graft_cos_sim_i8 serving kernel), then top-k per query
    * by a q_id-partitioned window. n separate quantizedTopK calls each
    * pay a full scan + job; a 10-query batch at sf0.1 measured the
    * difference as the dominant share of the i8 recall gate's wall.
    * Returns (q_id, idCol, cos_sim), top-k per q_id. */
  def quantizedTopKBatch(df: DataFrame, idCol: String, codesCol: String,
                         queries: Seq[(Long, Seq[Byte])],
                         k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    require(queries.nonEmpty, "quantizedTopKBatch: no queries")
    val qlit = array(queries.map { case (qid, qc) =>
      struct(lit(qid).as("q_id"),
        array(qc.map(v => lit(v)): _*).as("q_codes"))
    }: _*)
    val w = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col(idCol))
    df.select(col(idCol), explode(qlit).as("_q"), col(codesCol))
      .select(col("_q.q_id").as("q_id"), col(idCol),
        call_function("graft_cos_sim_i8", col(codesCol), col("_q.q_codes"))
          .as("cos_sim"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos_sim"))
  }

  /** Banded random-hyperplane LSH keys: `bands` keys of `bitsPerBand` sign
    * bits each, sliced from one packed-bits code computed by the native
    * graft_rhp_bits expression (graft.expr.RhpBits — one compiled loop
    * instead of interpreted per-element lambdas). Vectors with cosine near
    * 1 agree on most sign bits, so they collide on ≥1 band w.h.p. */
  def rhpBandKeys(vec: Column, bands: Int = 8, bitsPerBand: Int = 4,
                  seed: Int = 42): Column = {
    require(bands * bitsPerBand <= 64, "bands*bitsPerBand must be <= 64")
    val code = call_function("graft_rhp_bits", vec,
      lit(bands * bitsPerBand), lit(seed))
    val mask = (1L << bitsPerBand) - 1
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        shiftright(code, b * bitsPerBand).bitwiseAND(mask).as("bucket"))
    }: _*)
  }

  /** Approximate cosine similarity join: bucket both sides with the same
    * banded LSH, join per (band, bucket), verify exact cosine ≥ threshold.
    * Returns (left id, right id, cos_sim) distinct pairs. */
  /** (id_<side> [, vec_<side>], band, bucket) band-keyed rows — the ONE
    * keying expression every banded consumer shares. `withVec = false`
    * keeps the stream id-only (~16 B/row) for consumers that re-attach
    * payloads after pair dedup (see Embed.knnDistanceCurveApprox). */
  private[graft] def rhpKeyed(df: DataFrame, idCol: String, vecCol: String,
                              side: String, bands: Int, bitsPerBand: Int,
                              withVec: Boolean): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val base = df
      .select(col(idCol).as(s"id_$side"), col(vecCol).as(s"vec_$side"))
      .withColumn("bk", explode(rhpBandKeys(col(s"vec_$side"), bands, bitsPerBand)))
    val keep = col(s"id_$side") +:
      (if (withVec) Seq(col(s"vec_$side")) else Nil)
    base.select(keep :+ col("bk.band").as("band") :+
      col("bk.bucket").as("bucket"): _*)
  }

  /** Hot-bucket guard (quadratic-join cap): buckets whose population is
    * ≤ maxBucketSize — members of pruned buckets still match via other
    * bands. With 2^bitsPerBand buckets per band, skewed embedding
    * distributions (all-zero vectors, boilerplate) otherwise join n².
    * The ONE guard definition shared by every banded consumer. */
  private[graft] def popOkBuckets(keyed: DataFrame,
                                  maxBucketSize: Int): DataFrame =
    keyed.groupBy("band", "bucket")
      .agg(count(lit(1)).as("_bn")).filter(col("_bn") <= maxBucketSize)
      .select("band", "bucket")

  /** Id-only banded self candidate pairs: key, guard (population counted
    * on the same frame both sides join), bucket-join, dedup. Both pair
    * directions, self excluded — the candidate generator for consumers
    * that attach payloads AFTER dedup. */
  private[graft] def bandedSelfCandidates(df: DataFrame, idCol: String,
                                          vecCol: String, bands: Int,
                                          bitsPerBand: Int,
                                          maxBucketSize: Int): DataFrame = {
    val keyed = rhpKeyed(df, idCol, vecCol, "a", bands, bitsPerBand,
      withVec = false)
    val inPlay = keyed
      .join(popOkBuckets(keyed, maxBucketSize), Seq("band", "bucket"),
        "left_semi")
    inPlay.as("x").join(inPlay.as("y"), Seq("band", "bucket"))
      .select(col("x.id_a").as("id_a"), col("y.id_a").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  def annCosineJoin(left: DataFrame, right: DataFrame, idCol: String,
                    vecCol: String, threshold: Double, bands: Int = 8,
                    bitsPerBand: Int = 4,
                    maxBucketSize: Int = 100000,
                    excludeSelf: Boolean = true): DataFrame = {
    // guard counted on the RIGHT side (the corpus in query-vs-corpus use)
    val rightKeyed = rhpKeyed(right, idCol, vecCol, "r", bands, bitsPerBand,
      withVec = true)
    val okBuckets = popOkBuckets(rightKeyed, maxBucketSize)
    val cands = rhpKeyed(left, idCol, vecCol, "l", bands, bitsPerBand,
        withVec = true)
      .join(rightKeyed.join(okBuckets, Seq("band", "bucket"), "left_semi"),
        Seq("band", "bucket"))
      .filter(if (excludeSelf) col("id_l") =!= col("id_r") else lit(true))
      .select("id_l", "vec_l", "id_r", "vec_r")
      .dropDuplicates("id_l", "id_r")
    cands
      .withColumn("cos_sim", cosine(col("vec_l"), col("vec_r")))
      .filter(col("cos_sim") >= threshold)
      .select("id_l", "id_r", "cos_sim")
  }

  /** IVF (inverted-file) approximate top-k: partition vectors into nlist
    * KMeans cells once (the "index"), then search only the nprobe cells
    * whose centroids are nearest the query. The scale path when LSH recall
    * is too coarse: cell assignment is one narrow column, candidates are
    * nprobe/nlist of the data, and the final ranking is exact cosine.
    * Returns (model to reuse, search function). */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, seed: Long = 42L, cache: Boolean = true,
               nprobe: Int = 0, fitCap: Long = 100000L)
      : (DataFrame, Seq[Float] => Int => DataFrame) = {
    val (assigned, centroids) =
      ivfFit(df, idCol, vecCol, nlist, seed, cache, fitCap)
    val search: Seq[Float] => Int => DataFrame = q => k => {
      // recall/cost knob: more probed cells → higher recall, more data
      // touched; nlist/4 is the usual starting point
      val np = if (nprobe > 0) nprobe else math.max(1, nlist / 4)
      val cells = probeCells(centroids, q, np)
      val qc = array(q.map(v => lit(v)): _*)
      assigned.filter(col("_cell").isin(cells.toIndexedSeq: _*))
        .select(col(idCol), cosine(col(vecCol), qc).as("cos_sim"))
        .orderBy(desc("cos_sim"), col(idCol))
        .limit(k)
    }
    (assigned, search)
  }

  /** The shared IVF build: capped seeded centroid fit + one full-corpus
    * assignment pass. Centroid fit is capped to a seeded sample
    * (Embed.word2vec / the standard IVF practice — faiss trains on
    * ~max(10k·nlist, sample)): KMeans.fit is an iterative FULL scan per
    * iteration, so an uncapped fit makes the index build the
    * corpus-scale bottleneck. Cell ASSIGNMENT stays full-corpus — one
    * linear transform pass. (fitCap = Long.MaxValue means explicitly
    * uncapped: skip the sizing count entirely — the cap statically
    * cannot bind.) Cache only when the caller will issue repeated
    * searches — a cached frame with no owner to unpersist it leaks
    * executor storage. */
  private def ivfFit(df: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, seed: Long, cache: Boolean,
                     fitCap: Long): (DataFrame, Array[Array[Double]]) = {
    val spark = df.sparkSession
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val vecs = df.select(col(idCol), col(vecCol),
      graft.ml.VectorOps.toMlVector(col(vecCol)).as("_mlvec"))
    val fitVecs =
      if (fitCap == Long.MaxValue) vecs
      else {
        val n0 = vecs.count()
        if (n0 > fitCap)
          vecs.sample(withReplacement = false, fitCap.toDouble / n0,
            seed = seed + 1)
        else vecs
      }
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("_mlvec")
      .setPredictionCol("_cell").fit(fitVecs)
    val assignedRaw = km.transform(vecs).drop("_mlvec")
    val assigned = if (cache) assignedRaw.cache() else assignedRaw
    (assigned, km.clusterCenters.map(_.toArray))
  }

  /** Indices of the `np` centroids nearest (L2) to the query. */
  private def probeCells(centroids: Array[Array[Double]], q: Seq[Float],
                         np: Int): Array[Int] = {
    val qa = q.map(_.toDouble).toArray
    def d2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - qa(i); s += d * d; i += 1 }
      s
    }
    centroids.zipWithIndex.sortBy(p => d2(p._1)).take(np).map(_._2)
  }

  /** Batched IVF search: builds the index once, routes EVERY query's
    * probe list through ONE join keyed on the cell id — (q_id, cell)
    * rows broadcast against the assignment, exact cosine inside the
    * probed cells, top-k per query by window. n separate search() calls
    * each pay a filter+scan job over the assignment; the batch pays one.
    * Returns (q_id, idCol, cos_sim), top-k per q_id. */
  def ivfTopKBatch(df: DataFrame, idCol: String, vecCol: String,
                   queries: Seq[(Long, Seq[Float])], k: Int,
                   nlist: Int = 16, nprobe: Int = 0, seed: Long = 42L,
                   fitCap: Long = 100000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(queries.nonEmpty, "ivfTopKBatch: no queries")
    val (assigned, centroids) =
      ivfFit(df, idCol, vecCol, nlist, seed, cache = false, fitCap)
    val np = if (nprobe > 0) nprobe else math.max(1, nlist / 4)
    val probes = queries.flatMap { case (qid, q) =>
      probeCells(centroids, q, np).map(c => (qid, c, q))
    }.toDF("q_id", "_cell", "_qvec")
      .withColumn("_qvec", col("_qvec").cast("array<float>"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col(idCol))
    assigned.join(broadcast(probes), Seq("_cell"))
      .select(col("q_id"), col(idCol),
        cosine(col(vecCol), col("_qvec")).as("cos_sim"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos_sim"))
  }

  /** Semantic dedup — the SemDeDup pattern (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a (sample-fit)
    * KMeans, then search for near-duplicate pairs ONLY within each
    * cluster (cos ≥ threshold) and keep one document per duplicate group
    * (lowest id — the same keeper convention as every dedup here, via
    * the GraphX connected-components resolver, since near-dup is not
    * transitive). Returns (id, group_id, group_size, is_keeper).
    *
    * Scale shape: the pair search is a self-join KEYED ON THE CLUSTER id
    * — quadratic only within a cluster, never across the corpus; the
    * centroid fit is the capped one-pass-assignment [[ivfIndex]] build.
    * Clusters larger than `maxClusterSize` are EXCLUDED from the pair
    * search (their members all stay keepers — the conservative direction
    * for a dedup: nothing is dropped by an unverified pair), mirroring
    * [[annCosineJoin]]'s hot-bucket guard; raise k (more, smaller
    * clusters) rather than the cap when that triggers. Cross-cluster
    * near-dup pairs are missed BY DESIGN — that is SemDeDup's documented
    * recall trade (quality-gated against the exact all-pairs answer in
    * SemanticDedupSpec, not assumed). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 16, threshold: Double = 0.95,
                    fitCap: Long = 100000L, maxClusterSize: Int = 100000,
                    seed: Long = 42L): DataFrame = {
    val (assigned, pairs) = semanticDedupPairs(df, idCol, vecCol, k,
      threshold, fitCap, maxClusterSize, seed)
    val groups = Curation.dupGroups(df.select(col(idCol)), pairs, idCol)
      .withColumnRenamed("doc_id", idCol)
    assigned.unpersist(blocking = false)
    groups
  }

  /** The cluster-scoped pair-search stage of [[semanticDedup]], exposed
    * (package-private) because the public operator's FINAL plan starts at
    * the GraphX CC RDD — the pair search executes inside `dupGroups` and
    * is invisible to a plan audit of the result (the same reason
    * SparkEntry.curationPipelineTrain exists). PlanShapeSpec gates THIS
    * frame: the join must key on the cluster id (hash exchange on _cell,
    * no CartesianProduct / BroadcastNestedLoopJoin — a corpus-wide
    * all-pairs plan is exactly what the operator exists to avoid). */
  private[graft] def semanticDedupPairs(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      threshold: Double, fitCap: Long, maxClusterSize: Int,
      seed: Long): (DataFrame, DataFrame) = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val (assigned, _) = ivfIndex(df.select(col(idCol), col(vecCol)),
      idCol, vecCol, nlist = k, seed = seed, cache = true, fitCap = fitCap)
    val okCells = assigned.groupBy("_cell")
      .agg(count(lit(1)).as("_cn")).filter(col("_cn") <= maxClusterSize)
      .select("_cell")
    val inPlay = assigned.join(okCells, Seq("_cell"), "left_semi")
    def side(s: String) = inPlay.select(col("_cell"),
      col(idCol).as(s"id_$s"), col(vecCol).as(s"vec_$s"))
    val pairs = side("a").join(side("b"), Seq("_cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("vec_a"), col("vec_b")) >= threshold)
      .select("id_a", "id_b")
    (assigned, pairs)
  }

  /** Batched ANN top-k: every row of `queries` (idCol = query id,
    * vecCol) rides ONE LSH join against the corpus — n separate
    * [[annTopK]] calls each pay the full explode+join (measured +13.4 s
    * for 10 calls at sf0.1 vs ~1.5 s batched, the r14 recall-gate
    * finding). Returns (query_id, idCol, cos_sim), top-k per query by
    * (cos_sim desc, id) — the same tie-break as the single-query form,
    * which delegates here. */
  def annTopKBatch(df: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, k: Int, bands: Int = 8,
                   bitsPerBand: Int = 4): DataFrame =
    // excludeSelf=false: the left side is the query frame, not the
    // corpus — id-based self-exclusion would silently drop a legitimate
    // corpus row sharing the query's id (and brute force includes the
    // query's own row when it is in the corpus)
    annCosineJoin(queries, df, idCol, vecCol, threshold = -1.0, bands,
      bitsPerBand, excludeSelf = false)
      .withColumn("_rk", row_number().over(Window.partitionBy("id_l")
        .orderBy(desc("cos_sim"), col("id_r"))))
      .filter(col("_rk") <= k)
      .select(col("id_l").as("query_id"), col("id_r").as(idCol),
        col("cos_sim"))

  /** Approximate nearest-neighbor top-k for a query vector via the LSH
    * join (query as a 1-row frame — same bucketing expression both sides,
    * so no driver-side hashing is needed). Falls back to fewer than k rows
    * when the buckets don't hold k candidates: that is the ANN contract. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, bands: Int = 8,
              bitsPerBand: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = Seq((-1L, query)).toDF(idCol, vecCol)
      .withColumn(vecCol, col(vecCol).cast("array<float>"))
    annTopKBatch(df, idCol, vecCol, qdf, k, bands, bitsPerBand)
      .select(col(idCol), col("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Product-quantization (PQ) codebooks + corpus encoding — the
    * memory-bound scale path past [[quantizeInt8]]: d float32 dims
    * compress to `m` bytes per vector (d=64, m=8 → 32× less
    * scan/cache/shuffle than float32, 4× less than int8), the regime
    * where the 100 TB corpus' embedding table must live in executor
    * storage for repeated serving (Jégou et al. 2011, the faiss `PQm`
    * index).
    *
    * Fit is faiss practice: per-subspace Lloyd k-means over a seeded
    * driver-side sample (capped — the codebook is m·ksub·(d/m) floats of
    * DRIVER state, the corpus never participates beyond the sample).
    * Vectors are L2-normalized before slicing so inner product over
    * reconstructions approximates COSINE, and encode = nearest
    * sub-centroid in L2 per slice — the existing graft_nn_topk compiled
    * kernel with k=1 against the (foldable-literal) sub-codebook: the
    * whole corpus pass is m compiled heap-selects per row, no join, no
    * shuffle, no new expression.
    *
    * Returns (encoded frame: idCol, codes array<tinyint>[m], plus the
    * passed-through vector column for rerank, and the codebooks for
    * [[pqTopK]]). ksub ≤ 128 so codes fit signed bytes. */
  def pqIndex(df: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 32, fitCap: Long = 100000L,
              iters: Int = 20, seed: Long = 42L)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    require(ksub >= 2 && ksub <= 128, s"ksub must be in [2,128], got $ksub")
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val normed = df.select(col(idCol), col(vecCol),
      normalized(col(vecCol)).as("_vn"))
    // seeded capped sample for the fit (same sizing move as ivfIndex)
    val n0 = normed.count()
    val fitDf = if (n0 > fitCap)
      normed.sample(withReplacement = false, fitCap.toDouble / n0,
        seed = seed + 1)
    else normed
    val sample: Array[Array[Double]] = fitDf.select(col("_vn")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqIndex needs a non-empty input")
    val d = sample.head.length
    require(d % m == 0, s"dim $d must be divisible by m=$m")
    val dsub = d / m
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub,
        (j + 1) * dsub)), ksub, iters, seed + j)
    }
    // encode: per subspace, idx of the nearest sub-centroid (L2) — the
    // codebook rides the plan as one foldable literal per subspace
    val codes = array((0 until m).map { j =>
      element_at(call_function("graft_nn_topk",
          slice(col("_vn"), j * dsub + 1, dsub),
          typedlit(books(j).map(_.toSeq).toSeq), lit(1)), 1)
        .getField("idx").cast("tinyint")
    }: _*)
    (normed.select(col(idCol), col(vecCol), codes.as("codes")), books)
  }

  /** PQ approximate top-k with exact rerank: asymmetric-distance (ADC)
    * scores come from a per-query lookup table — LUT(j)(i) = ⟨q̂_j,
    * c_{j,i}⟩, m·ksub floats computed once driver-side — so the corpus
    * scan does m byte-indexed table reads + adds per row against codes
    * it never decodes. The ADC top `rerank` candidates (one
    * TakeOrderedAndProject — no shuffle) then rerank by EXACT cosine on
    * their full vectors, which caps the quantization-rounding recall
    * loss (two-stage serving, the standard PQ deployment; recall@10 vs
    * brute force is spec-gated, not assumed). */
  def pqTopK(encoded: DataFrame, books: Array[Array[Array[Double]]],
             idCol: String, vecCol: String, query: Seq[Float], k: Int,
             rerank: Int = 0): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(encoded.sparkSession)
    val m = books.length
    val qa = query.map(_.toDouble).toArray
    val qn = math.sqrt(qa.map(x => x * x).sum)
    val qh = if (qn == 0.0) qa else qa.map(_ / qn)
    val dsub = qh.length / m
    val lut: Array[Array[Double]] = Array.tabulate(m) { j =>
      books(j).map { c =>
        var s = 0.0; var i = 0
        while (i < dsub) { s += c(i) * qh(j * dsub + i); i += 1 }
        s
      }
    }
    val adc = (0 until m).map { j =>
      element_at(typedlit(lut(j).toSeq),
        col("codes").getItem(j).cast("int") + 1)
    }.reduce(_ + _)
    val rn = if (rerank > 0) rerank else 5 * k
    val q = array(query.map(v => lit(v)): _*)
    encoded.select(col(idCol), col(vecCol), adc.as("adc_score"))
      .orderBy(desc("adc_score"), col(idCol)).limit(rn)
      .select(col(idCol), cosine(col(vecCol), q).as("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol)).limit(k)
  }

  /** Batched [[pqTopK]]: every query's ADC lookup table rides the SAME
    * corpus pass as a foldable literal (one (q_id, adc) struct per
    * query, exploded per row), ADC top-`rerank` per query by window
    * over NARROW (q_id, id, adc) rows — the full vectors are
    * re-attached only for the rerank candidates via a broadcast
    * semi-join, so the window never shuffles vector payloads — then
    * exact-cosine rerank to top-k. Same two-stage serving contract as
    * the single-query form, one job instead of n.
    * Returns (q_id, idCol, cos_sim), top-k per q_id. */
  def pqTopKBatch(encoded: DataFrame, books: Array[Array[Array[Double]]],
                  idCol: String, vecCol: String,
                  queries: Seq[(Long, Seq[Float])], k: Int,
                  rerank: Int = 0): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    graft.expr.GraftFunctions.ensureRegistered(spark)
    require(queries.nonEmpty, "pqTopKBatch: no queries")
    val m = books.length
    def lutOf(query: Seq[Float]): Array[Array[Double]] = {
      val qa = query.map(_.toDouble).toArray
      val qn = math.sqrt(qa.map(x => x * x).sum)
      val qh = if (qn == 0.0) qa else qa.map(_ / qn)
      val dsub = qh.length / m
      Array.tabulate(m) { j =>
        books(j).map { c =>
          var s = 0.0; var i = 0
          while (i < dsub) { s += c(i) * qh(j * dsub + i); i += 1 }
          s
        }
      }
    }
    val adcStructs = array(queries.map { case (qid, qv) =>
      val lut = lutOf(qv)
      val adc = (0 until m).map { j =>
        element_at(typedlit(lut(j).toSeq),
          col("codes").getItem(j).cast("int") + 1)
      }.reduce(_ + _)
      struct(lit(qid).as("q_id"), adc.as("adc_score"))
    }: _*)
    val rn = if (rerank > 0) rerank else 5 * k
    val wAdc = Window.partitionBy("q_id")
      .orderBy(desc("adc_score"), col(idCol))
    val cands = encoded
      .select(col(idCol), explode(adcStructs).as("_q"))
      .select(col("_q.q_id").as("q_id"), col(idCol),
        col("_q.adc_score").as("adc_score"))
      .withColumn("_rn", row_number().over(wAdc)).filter(col("_rn") <= rn)
      .select(col("q_id"), col(idCol))
    val qdf = queries.toDF("q_id", "_qvec")
      .withColumn("_qvec", col("_qvec").cast("array<float>"))
    val wCos = Window.partitionBy("q_id").orderBy(desc("cos_sim"), col(idCol))
    broadcast(cands)
      .join(encoded.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(qdf), Seq("q_id"))
      .select(col("q_id"), col(idCol),
        cosine(col(vecCol), col("_qvec")).as("cos_sim"))
      .withColumn("_rn", row_number().over(wCos)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos_sim"))
  }

  /** L2-normalize a float-array column (zero vectors pass through
    * unchanged — the M11 guard); double-precision output. */
  private def normalized(v: Column): Column = {
    val n = l2Norm(v)
    when(n === 0.0, transform(v, x => x.cast("double")))
      .otherwise(transform(v, x => x.cast("double") / n))
  }

  /** Seeded driver-side Lloyd k-means (k-means++ would add nothing at
    * codebook scale): init = k distinct-index points by seeded shuffle,
    * empty clusters keep their previous centroid. Deterministic. */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int,
                    seed: Long): Array[Array[Double]] = {
    val n = pts.length
    val d = pts.head.length
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle((0 until n).toVector).take(math.min(k, n))
    var cents = init.map(i => pts(i).clone).toArray
    // fewer distinct points than k: duplicate-pad (assignments ignore
    // the pads — ties resolve to the first/lowest centroid index)
    while (cents.length < k) cents = cents :+ cents(cents.length % init.length).clone
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Long](k)
      var p = 0
      while (p < n) {
        val v = pts(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0; var i = 0
          val ce = cents(c)
          while (i < d) { val df0 = v(i) - ce(i); s += df0 * df0; i += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += v(i); i += 1 }
        cnts(best) += 1
        p += 1
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          var i = 0
          while (i < d) { cents(c)(i) = sums(c)(i) / cnts(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }
}
