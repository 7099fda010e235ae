package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Five vector indexes serve cosine top-k: exact ([[bruteForceTopK]]),
  * int8 codes ([[quantizedTopK]]), banded LSH ([[annTopK]]), IVF cells
  * ([[ivfTopK]]) and PQ codes with exact rerank ([[pqTopK]]). Each has
  * ONE search function: it takes `(q_id, query vector)` pairs and
  * returns `(q_id, <idCol>, cos_sim)`, top k per query. A single query
  * is a batch of one. The top-k policy — the (cos_sim desc, id asc)
  * tie-break and the plan — lives in one place, [[topKPerQuery]]: one
  * query plans scan → TakeOrderedAndProject (a k-row result, no
  * shuffle); more queries ride one corpus pass and a q_id window.
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

  // Fixed index parameters: every caller ran these values. LSH 12 bands
  // × 3 bits is the recall-gated config (SimilaritySpec: mean recall@10
  // 0.95 on the fixture, 8 × 4 measured 0.72); PQ splits d into 8
  // subspaces of 32 centroids (8-byte codes) by 20 Lloyd rounds; every
  // index fit samples at most FitCap rows. The LSH hyperplanes, the fit
  // sample and both k-means derive their seeds from Seed. HotCap is
  // the quadratic-join guard: the most rows an LSH bucket or a SemDeDup
  // cell may hold and still be joined.
  private val AnnBands = 12
  private val AnnBitsPerBand = 3
  private val HotCap = 100000
  private val PqM = 8
  private val PqKsub = 32
  private val PqIters = 20
  private val FitCap = 100000L
  private val Seed = 42L

  private def vecLit(q: Seq[Float]): Column = array(q.map(v => lit(v)): _*)

  /** `(q_id, idCol, score [, keep…])`: every row of `df` scored by each
    * query's column (an expression over `df`'s columns). One query is a
    * plain projection; more ride ONE pass — a (q_id, score) struct per
    * query, exploded per row — so n queries cost one scan, not n. */
  private def perQuery(df: DataFrame, idCol: String,
                       scores: Seq[(Long, Column)],
                       score: String = "cos_sim",
                       keep: Seq[String] = Nil): DataFrame = {
    require(scores.nonEmpty, "no queries")
    val carried = (idCol +: keep).map(col)
    scores match {
      case Seq((qid, s)) =>
        df.select((lit(qid).as("q_id") +: carried) :+ s.as(score): _*)
      case _ =>
        val qs = array(scores.map { case (qid, s) =>
          struct(lit(qid).as("q_id"), s.as(score))
        }: _*)
        df.select(carried :+ explode(qs).as("_q"): _*)
          .select((col("_q.q_id") +: carried) :+ col(s"_q.$score"): _*)
    }
  }

  /** The top-k policy of every index: per `q_id`, the `k` rows best by
    * (`score` desc, `idCol` asc). One query plans orderBy + limit
    * (TakeOrderedAndProject: no shuffle); more plan a q_id-partitioned
    * row_number window (rewritten to TopKPerGroup). */
  private def topKPerQuery(scored: DataFrame, idCol: String, score: String,
                           k: Int, nQueries: Int): DataFrame = {
    val order = Seq(desc(score), col(idCol))
    if (nQueries == 1) scored.orderBy(order: _*).limit(k)
    else scored
      .withColumn("_rn",
        row_number().over(Window.partitionBy("q_id").orderBy(order: _*)))
      .filter(col("_rn") <= k).drop("_rn")
  }

  /** Exact brute-force cosine top-k. One query plans as scan → project →
    * TakeOrderedAndProject: at 100 TB this is one pass over the vectors
    * with a k-row result, no shuffle of the vectors themselves. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     queries: Seq[(Long, Seq[Float])], k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    topKPerQuery(perQuery(df, idCol, queries.map { case (qid, q) =>
      qid -> cosine(col(vecCol), vecLit(q))
    }), idCol, "cos_sim", k, queries.size)
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
    val cands = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        cosine(col(vecCol), vecLit(query)).as("q_sim"))
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
    * s = max|x|/127, emitted as `array<tinyint>`. 4× less
    * storage/shuffle/cache than float32 — the standard embedding-serving
    * trade. COSINE needs no dequantization at all (per-vector scales
    * cancel), so quantized search is [[quantizedTopK]]'s integer kernel
    * over the codes; recall vs float brute-force is spec-gated, not
    * assumed (SimilaritySpec). All-zero vectors quantize to all-zero
    * codes (scale 0 guard). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    // codes come from the single-pass native kernel (the HOF transform
    // formulation paid interpreted per-element lambdas — it buried the
    // downstream integer kernel, 5.1 s vs 0.77 s float at ×100)
    df.select(col(idCol),
      call_function("graft_quantize_i8", col(vecCol)).as("codes"))
  }

  /** Exact brute-force cosine top-k over int8 codes — the same plans as
    * [[bruteForceTopK]], but the scan reads 4×-smaller vectors and the
    * kernel is integer MAC (graft_cos_sim_i8). The float queries are
    * quantized on the driver by `VecKernels.quantizeI8`, the function
    * the graft_quantize_i8 kernel calls, so query and corpus codes
    * agree. Approximate only through quantization rounding (recall@10
    * spec-gated ≥ 0.9 vs the float path). */
  def quantizedTopK(df: DataFrame, idCol: String, codesCol: String,
                    queries: Seq[(Long, Seq[Float])], k: Int): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    topKPerQuery(perQuery(df, idCol, queries.map { case (qid, q) =>
      val codes = graft.expr.VecKernels
        .quantizeI8(q.map(_.toDouble).toArray).toByteArray()
      qid -> call_function("graft_cos_sim_i8", col(codesCol),
        array(codes.toSeq.map(v => lit(v)): _*))
    }), idCol, "cos_sim", k, queries.size)
  }

  /** Banded random-hyperplane LSH keys: `bands` keys of `bitsPerBand` sign
    * bits each, sliced from one packed-bits code computed by the native
    * graft_rhp_bits expression (graft.expr.RhpBits — one compiled loop
    * instead of interpreted per-element lambdas). Vectors with cosine near
    * 1 agree on most sign bits, so they collide on ≥1 band w.h.p. */
  private def rhpBandKeys(vec: Column, bands: Int, bitsPerBand: Int): Column = {
    require(bands * bitsPerBand <= 64, "bands*bitsPerBand must be <= 64")
    val code = call_function("graft_rhp_bits", vec,
      lit(bands * bitsPerBand), lit(Seed.toInt))
    val mask = (1L << bitsPerBand) - 1
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        shiftright(code, b * bitsPerBand).bitwiseAND(mask).as("bucket"))
    }: _*)
  }

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

  /** Approximate nearest-neighbor top-k via banded LSH: the queries (a
    * (q_id, vector) frame — the same bucketing expression both sides, so
    * no driver-side hashing) join the corpus per (band, bucket), the
    * distinct (query, candidate) pairs score by exact cosine. The
    * hot-bucket guard is counted on the corpus side. A query whose
    * buckets hold fewer than k candidates gets fewer than k rows: that
    * is the ANN contract. A query's own row is a legitimate candidate
    * when it is in the corpus (as in brute force). */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              queries: Seq[(Long, Seq[Float])], k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = queries.toDF(idCol, vecCol)
      .withColumn(vecCol, col(vecCol).cast("array<float>"))
    val corpus = rhpKeyed(df, idCol, vecCol, "r", AnnBands, AnnBitsPerBand,
      withVec = true)
    val scored = rhpKeyed(qdf, idCol, vecCol, "l", AnnBands, AnnBitsPerBand,
        withVec = true)
      .join(corpus.join(popOkBuckets(corpus, HotCap),
        Seq("band", "bucket"), "left_semi"), Seq("band", "bucket"))
      .select("id_l", "vec_l", "id_r", "vec_r")
      .dropDuplicates("id_l", "id_r")
      .select(col("id_l").as("q_id"), col("id_r").as(idCol),
        cosine(col("vec_l"), col("vec_r")).as("cos_sim"))
    topKPerQuery(scored, idCol, "cos_sim", k, queries.size)
  }

  /** The seeded ≤ `cap`-row sample an index fits on (the whole frame
    * when it is smaller): one count job, then faiss practice — the fit
    * trains on a sample, never on the corpus. */
  private def fitSample(df: DataFrame, cap: Long): DataFrame = {
    val n0 = df.count()
    if (n0 > cap)
      df.sample(withReplacement = false, cap.toDouble / n0, seed = Seed + 1)
    else df
  }

  /** IVF (inverted-file) approximate top-k: partition vectors into nlist
    * KMeans cells (the "index"), then score each query only against the
    * `nprobe` cells whose centroids are nearest it (nlist/4 when 0 —
    * more probed cells, higher recall, more data touched). The scale
    * path when LSH recall is too coarse: cell assignment is one narrow
    * column, candidates are nprobe/nlist of the data, and the final
    * ranking is exact cosine. A row outside a query's probed cells
    * scores null for it and drops. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queries: Seq[(Long, Seq[Float])], k: Int,
              nlist: Int = 16, nprobe: Int = 0,
              fitCap: Long = FitCap): DataFrame = {
    val (assigned, centroids) =
      ivfFit(df, idCol, vecCol, nlist, cache = false, fitCap)
    val np = if (nprobe > 0) nprobe else math.max(1, nlist / 4)
    val scored = perQuery(assigned, idCol, queries.map { case (qid, q) =>
      qid -> when(col("_cell").isin(probeCells(centroids, q, np).toSeq: _*),
        cosine(col(vecCol), vecLit(q)))
    }).filter(col("cos_sim").isNotNull)
    topKPerQuery(scored, idCol, "cos_sim", k, queries.size)
  }

  /** The shared IVF build: a centroid fit on a seeded ≤ fitCap sample
    * ([[fitSample]]: KMeans.fit is an iterative FULL scan per iteration,
    * so an uncapped fit makes the index build the corpus-scale
    * bottleneck) + one full-corpus assignment pass. Cache only when the
    * caller reads the assignment more than once and unpersists it
    * (SemDeDup) — a cached frame with no owner leaks executor storage. */
  private def ivfFit(df: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, cache: Boolean,
                     fitCap: Long): (DataFrame, Array[Array[Double]]) = {
    val spark = df.sparkSession
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val vecs = df.select(col(idCol), col(vecCol),
      graft.ml.VectorOps.toMlVector(col(vecCol)).as("_mlvec"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(Seed).setFeaturesCol("_mlvec")
      .setPredictionCol("_cell").fit(fitSample(vecs, fitCap))
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
    * centroid fit is the capped one-pass-assignment [[ivfFit]] build.
    * Clusters larger than HotCap rows are EXCLUDED from the pair search
    * (their members all stay keepers — the conservative direction for a
    * dedup: nothing is dropped by an unverified pair), mirroring
    * [[annTopK]]'s hot-bucket guard; raise k (more, smaller clusters)
    * when that triggers. Cross-cluster near-dup pairs are missed BY
    * DESIGN — that is SemDeDup's documented recall trade (quality-gated
    * against the exact all-pairs answer in SemanticDedupSpec, not
    * assumed). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 16, threshold: Double = 0.95): DataFrame = {
    val (assigned, pairs) =
      semanticDedupPairs(df, idCol, vecCol, k, threshold)
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
      threshold: Double): (DataFrame, DataFrame) = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val (assigned, _) = ivfFit(df.select(col(idCol), col(vecCol)),
      idCol, vecCol, nlist = k, cache = true, FitCap)
    val okCells = assigned.groupBy("_cell")
      .agg(count(lit(1)).as("_cn")).filter(col("_cn") <= HotCap)
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

  /** Product-quantization (PQ) codebooks + corpus encoding — the
    * memory-bound scale path past [[quantizeInt8]]: d float32 dims
    * compress to 8 bytes per vector (d=64 → 32× less scan/cache/shuffle
    * than float32, 4× less than int8), the regime where the 100 TB
    * corpus' embedding table must live in executor storage for repeated
    * serving (Jégou et al. 2011, the faiss `PQm` index).
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
  def pqIndex(df: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val normed = df.select(col(idCol), col(vecCol),
      normalized(col(vecCol)).as("_vn"))
    val sample: Array[Array[Double]] = fitSample(normed, FitCap)
      .select(col("_vn")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqIndex needs a non-empty input")
    val d = sample.head.length
    require(d % PqM == 0, s"dim $d must be divisible by m=$PqM")
    val dsub = d / PqM
    val books: Array[Array[Array[Double]]] = Array.tabulate(PqM) { j =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub,
        (j + 1) * dsub)), PqKsub, PqIters, Seed + j)
    }
    // encode: per subspace, idx of the nearest sub-centroid (L2) — the
    // codebook rides the plan as one foldable literal per subspace
    val codes = array((0 until PqM).map { j =>
      element_at(call_function("graft_nn_topk",
          slice(col("_vn"), j * dsub + 1, dsub),
          typedlit(books(j).map(_.toSeq).toSeq), lit(1)), 1)
        .getField("idx").cast("tinyint")
    }: _*)
    (normed.select(col(idCol), col(vecCol), codes.as("codes")), books)
  }

  /** The ADC score column of one query against the `codes` column: the
    * query is L2-normalized, LUT(j)(i) = ⟨q̂_j, c_{j,i}⟩ is built
    * driver-side per subspace j, and each row sums its m byte-indexed
    * LUT entries (`element_at` over one literal per subspace). */
  private def adcScore(books: Array[Array[Array[Double]]],
                       query: Seq[Float]): Column = {
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
    (0 until m).map { j =>
      element_at(typedlit(lut(j).toSeq),
        col("codes").getItem(j).cast("int") + 1)
    }.reduce(_ + _)
  }

  /** PQ approximate top-k with exact rerank: asymmetric-distance (ADC)
    * scores come from a per-query lookup table — LUT(j)(i) = ⟨q̂_j,
    * c_{j,i}⟩, m·ksub floats computed once driver-side — so the corpus
    * scan does m byte-indexed table reads + adds per row against codes
    * it never decodes. The ADC top `rerank` candidates (5k when 0) then
    * rerank by EXACT cosine on their full vectors, which caps the
    * quantization-rounding recall loss (two-stage serving, the standard
    * PQ deployment; recall@10 vs brute force is spec-gated, not
    * assumed). One query's candidates carry their vectors (two
    * TakeOrderedAndProjects, no join); with more queries the ADC window
    * runs over NARROW (q_id, id, adc) rows and the vectors re-attach by
    * broadcast join for the candidates only, so the window never
    * shuffles vector payloads. */
  def pqTopK(encoded: DataFrame, books: Array[Array[Array[Double]]],
             idCol: String, vecCol: String,
             queries: Seq[(Long, Seq[Float])], k: Int,
             rerank: Int = 0): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val rn = if (rerank > 0) rerank else 5 * k
    val one = queries.size == 1
    val cands = topKPerQuery(perQuery(encoded, idCol,
        queries.map { case (qid, q) => qid -> adcScore(books, q) },
        "adc_score", keep = if (one) Seq(vecCol) else Nil),
      idCol, "adc_score", rn, queries.size)
    val withVecs =
      if (one) cands.withColumn("_qvec", vecLit(queries.head._2))
      else broadcast(cands.select(col("q_id"), col(idCol)))
        .join(encoded.select(col(idCol), col(vecCol)), Seq(idCol))
        .join(broadcast(queries.toDF("q_id", "_qvec")
          .withColumn("_qvec", col("_qvec").cast("array<float>"))),
          Seq("q_id"))
    topKPerQuery(withVecs.select(col("q_id"), col(idCol),
        cosine(col(vecCol), col("_qvec")).as("cos_sim")),
      idCol, "cos_sim", k, queries.size)
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
