package graft.ml

import org.apache.spark.ml.feature.{Word2Vec, Word2VecModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Word-embedding operators (SURVEY.md §2.9 M1–M3).
  *
  * M1 gensim Word2Vec(size=200, window=5, min_count=1, iter=1000)
  * (word2vec_dbscan_approach.ipynb:28587) → ml.feature.Word2Vec. Documented
  * delta: gensim default CBOW vs Spark skip-gram-HS — downstream clustering
  * tolerates it (SURVEY.md §7 item 3).
  *
  * M2 sentence2vec = mean of member-token vectors with OOV skipped
  * (:147-170) — exactly what Word2VecModel.transform computes.
  */
object Embed {

  /** M1: train word2vec over a token-array column. */
  def word2vec(df: DataFrame, tokensCol: String, vectorSize: Int = 200,
               windowSize: Int = 5, minCount: Int = 1, maxIter: Int = 10,
               seed: Long = 42L): Word2VecModel =
    new Word2Vec()
      .setInputCol(tokensCol).setOutputCol("sent_vec")
      .setVectorSize(vectorSize).setWindowSize(windowSize)
      .setMinCount(minCount).setMaxIter(maxIter).setSeed(seed)
      .fit(df)

  /** M2: sentence vectors (token-vector averaging) with the blank guard
    * (P10/M11) applied first — the reference's 38-empty-message trap. */
  def sentence2vec(model: Word2VecModel, df: DataFrame,
                   tokensCol: String): DataFrame =
    model.transform(df.filter(size(col(tokensCol)) > 0))

  /** Driver form of [[sentence2vec]] for token lists already on the
    * driver (the flagship's reference-scale route): no job, and the
    * same vectors bit for bit as `toArray` of Word2VecModel.transform
    * (Spark 4.1.2's UDF): each in-vocabulary token's vector is summed
    * as doubles in token order, OOV tokens skipped, then the sum is
    * multiplied by 1.0 / tokens.size — OOV tokens count in the size.
    * An empty list gives the zero vector. The word vectors come from
    * `model.getVectors`, a local relation, so reading them runs no job
    * either. */
  def sentence2vecLocal(model: Word2VecModel,
                        tokens: Seq[Seq[String]]): Array[Array[Double]] = {
    val d = model.getVectorSize
    val vocab = model.getVectors.collect().iterator.map(r =>
      r.getString(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray)
      .toMap
    tokens.iterator.map { sentence =>
      val sum = new Array[Double](d)
      sentence.foreach(w => vocab.get(w).foreach { v =>
        var i = 0
        while (i < d) { sum(i) += v(i); i += 1 }
      })
      if (sentence.nonEmpty) {
        val scale = 1.0 / sentence.size
        var i = 0
        while (i < d) { sum(i) *= scale; i += 1 }
      }
      sum
    }.toArray
  }

  /** The reference's k convention for the distance curve:
    * k = round(sqrt(n)) (word2vec_dbscan_approach.ipynb:28782). */
  def defaultK(n: Long): Int = math.max(2, math.round(math.sqrt(n.toDouble)).toInt)

  /** M3 kNN average-distance curve, distributed, reproducing the
    * reference's column-sort-then-row-mean quirk
    * (word2vec_dbscan_approach.ipynb:172-189): for each point take its
    * k nearest distances (rank j = 1..k); sort each rank's distances
    * ascending over all points (position i); curve[i] = mean over j of the
    * i-th smallest distance of rank j. k > 2 averages; k ≤ 2 uses the
    * 2nd-NN column alone, as the reference does.
    *
    * Input: (id, vec: Array[Float|Double]). The reference set is collected
    * to the driver (callers bound n by construction — a curve sample, a
    * sub-300 fixture) and rides the plan as ONE matrix literal; each row
    * then runs the compiled graft_nn_topk heap-select — O(n·d + n·log k)
    * per row, NO n²-row join materialization, no shuffle until the tiny
    * n·k rank stage. Callers at true scale pre-bucket (LSH) and use
    * [[knnDistanceCurveApprox]]. The reference-set collect is structurally
    * bounded: at most `maxN`+1 rows ever reach the driver (limit-pushed),
    * and past `maxN` the call refuses — sample the input or switch to the
    * approx path rather than growing the cap. The default cap is set at
    * the MEASURED exact/approx crossover (r10, 64-dim embeddings, 32
    * cores): exact 36.7 s vs approx 61.6 s at n=2×10⁴, approx 120 s vs
    * exact ~1 h extrapolated (plus a 102 MB matrix literal) at n=2×10⁵ —
    * the regimes cross near n≈4×10⁴, so below maxN=20000 this path is
    * strictly faster and above it the approx path wins outright.
    * Returns (i, curve), i = 0-based. */
  def knnDistanceCurve(df: DataFrame, idCol: String, vecCol: String,
                       k: Int, maxN: Int = 20000): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    // self-pairs INCLUDED: sklearn's kneighbors over the training set
    // returns self as column 0 (distance 0); the reference's k<=2 branch
    // (distances[:,1]) is therefore the FIRST non-self neighbor, and the
    // k>2 row-mean averages the zero self-column in. Excluding self here
    // would shift every rank by one.
    // matrix rows sorted by id: the expression breaks distance ties by
    // idx, so idx order == id order reproduces the (dist, id_b) contract
    val ref = df.select(col(idCol).cast("long").as("id"), col(vecCol))
      .orderBy("id").limit(maxN + 1).collect()
    require(ref.length <= maxN,
      s"knnDistanceCurve rides the reference set as a plan literal and is " +
        s"capped at maxN=$maxN rows (got more); sample the input or use " +
        "knnDistanceCurveApprox at scale")
    val mat: Seq[Seq[Double]] =
      ref.toSeq.map(graft.expr.VecKernels.cellDoubles(_, 1).toSeq)
    val topK = df.select(col(idCol).as("id_a"),
        posexplode(call_function("graft_nn_topk", col(vecCol),
          typedlit(mat), lit(k))))
      .select(col("id_a"), (col("pos") + 1).as("j"),
        col("col.dist").as("dist"))
    val useCols = if (k > 2) topK else topK.filter(col("j") === 2)
    val wRank = Window.partitionBy("j").orderBy(col("dist"), col("id_a"))
    useCols
      .withColumn("i", row_number().over(wRank) - 1)
      .groupBy("i").agg(avg("dist").as("curve"))
      .orderBy("i")
  }

  /** Driver form of `collectCurve(knnDistanceCurve(…, k))` for a point
    * set already on the driver (the flagship's reference-scale route,
    * n ≤ curveCap, well under collectCurve's decimation threshold): no
    * job, O(n²·d) kernel work. Each row's k nearest distances
    * (self included) come from the same heap-select kernel the
    * graft_nn_topk expression runs; each rank column is sorted
    * ascending, and curve[i] sums the ranks' i-th values in rank order
    * before dividing. Ties are irrelevant here: a row's k smallest
    * distances and a column's sorted values do not depend on which
    * tied point the (dist, id) order would pick. The distributed avg()
    * sums in shuffle-arrival order, so the two forms agree to the last
    * few ulps, not bit for bit. */
  def knnCurve(pts: Array[Array[Double]], k: Int): Array[Double] = {
    val n = pts.length
    val kk = math.min(k, n)
    // k ≤ 2 keeps the 2nd-NN column alone, as knnDistanceCurve does
    val ranks = if (k > 2) 0 until kk else 1 until math.min(kk, 2)
    val cols = ranks.map(_ => new Array[Double](n))
    var r = 0
    while (r < n) {
      val dist = graft.expr.VecKernels.topK(pts(r), pts, kk)._2
      ranks.indices.foreach(c => cols(c)(r) = dist(ranks(c)))
      r += 1
    }
    cols.foreach(java.util.Arrays.sort)
    Array.tabulate(if (ranks.isEmpty) 0 else n) { i =>
      var s = 0.0
      cols.foreach(c => s += c(i))
      s / ranks.length
    }
  }

  /** Scale path for M3: candidate pairs come from the banded
    * random-hyperplane LSH join instead of the n² cross join, then the
    * same rank/column-sort/row-mean. Approximate exactly where ANN is:
    * a point's j-th neighbor may be its j-th nearest CANDIDATE. At 100 TB
    * the exact curve is unobtainable; the knee only needs the curve's
    * shape. */
  def knnDistanceCurveApprox(df: DataFrame, idCol: String, vecCol: String,
                             k: Int, bands: Int = 12, bitsPerBand: Int = 3,
                             maxBucketSize: Int = 100000): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    // id-only candidate generation (r10): the earlier annCosineJoin form
    // dragged both vector payloads (~1 KB/pair at 64 dims) through the
    // bucket join AND the pair-dedup exchange, then computed a cosine the
    // curve discards. The shared Similarity generator keeps band keys
    // riding with the id alone (~16 B/row) under the same hot-bucket
    // guard; vectors join back exactly once — after dedup. Same
    // candidate set, same curve.
    val cands = graft.dedup.Similarity.bandedSelfCandidates(
      df, idCol, vecCol, bands, bitsPerBand, maxBucketSize)
    // re-add the self-pairs the banded join excludes (see knnDistanceCurve:
    // the reference counts self as neighbor column 0)
    val selfPairs = df.select(col(idCol).as("id_a"), col(idCol).as("id_b"))
    // the vector side is n rows (n·d·8 B ≈ 100 MB at n=2×10⁵, d=64) —
    // FAR under the broadcast ceiling but over the 10 MB auto threshold,
    // and letting these joins go sort-merge shuffles the full candidate
    // stream WITH vector payloads (measured ×100: ~3×10⁸ pairs spilled
    // >80 GB and died; broadcast keeps the pair stream id-only until the
    // per-pair distance projection). ONE frame feeds both attach joins so
    // the exchange is built and shipped once (ReuseExchange needs the two
    // broadcast children canonically identical — alias-divergent twins
    // would double the ~100 MB footprint).
    val vFrame = df.select(col(idCol).as("_vid"), col(vecCol).as("_vvec"))
    val withVecs = cands.union(selfPairs)
      .join(broadcast(vFrame), col("id_a") === col("_vid"))
      .withColumnRenamed("_vvec", "va").drop("_vid")
      .join(broadcast(vFrame), col("id_b") === col("_vid"))
      .withColumnRenamed("_vvec", "vb").drop("_vid")
    curveFromPairs(withVecs, k)
  }

  /** Driver-safe collect of a (i, curve) frame: uniform rank-decimation
    * (every step-th point, plus the last) bounds the driver array at
    * ~maxPoints rows no matter how large n grows — the curve has one row
    * per INPUT POINT, so an uncapped collect is a driver OOM at 100×
    * scale. The knee is a property of the curve's shape, which survives
    * uniform decimation; the ε read off the kept points is within one
    * step of the exact knee's value. The frame is cached around the
    * count+collect pair so the upstream kNN pipeline runs once. */
  def collectCurve(curveDf: DataFrame, maxPoints: Int = 10000): Array[Double] = {
    val cached = curveDf.cache()
    try {
      val n = cached.count()
      val step = math.max(1L, n / maxPoints)
      val kept =
        if (step == 1L) cached
        else cached.filter(col("i") % step === 0 || col("i") === (n - 1))
      kept.orderBy("i").select("curve").collect().map(_.getDouble(0))
    } finally cached.unpersist()
  }

  private def curveFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    // native Euclidean kernel (graft.expr.GraftL2Dist): bit-identical to
    // the interpreted zip_with/aggregate fold it replaced, but one
    // compiled loop — the HOF form was the whole-profile hotspot once the
    // flagship's candidate set grew past ~10⁶ pairs
    graft.expr.GraftFunctions.ensureRegistered(pairs.sparkSession)
    // project the vectors AWAY before the window: the per-group sort
    // otherwise drags both 16-float payloads through an n²-row sort
    // (~200 bytes/row instead of 20)
    val withDist = pairs.select(col("id_a"), col("id_b"),
      call_function("graft_l2_dist", col("va"), col("vb")).as("dist"))
    val wNeighbors = Window.partitionBy("id_a").orderBy(col("dist"), col("id_b"))
    val topK = withDist
      .withColumn("j", row_number().over(wNeighbors))
      .filter(col("j") <= k)
    val useCols = if (k > 2) topK else topK.filter(col("j") === 2)
    val wRank = Window.partitionBy("j").orderBy(col("dist"), col("id_a"))
    useCols
      .withColumn("i", row_number().over(wRank) - 1)
      .groupBy("i").agg(avg("dist").as("curve"))
      .orderBy("i")
  }
}
