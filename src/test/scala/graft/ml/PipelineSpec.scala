package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("flagship: cluster the documents fixture end-to-end (M7+M9+A13)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val clustered = TextPipeline.clusterDocuments(docs, "text", k = 5, nInit = 1)
    assert(clustered.columns.contains("cluster"))
    val n = clustered.count()
    assert(n == docs.filter(length(trim($"text")) > 0).count())
    val stats = ClusterStats.stats(clustered, "cluster", "text", "doc_id")
    val rows = stats.collect()
    assert(rows.length <= 5 && rows.nonEmpty)
    assert(stats.columns.toSeq == Seq("cluster", "n", "first_msg", "mean_len",
      "std_len", "mean_similarity", "std_similarity"))
    // row-count conservation (the reference's 2926≠2826 alert, inverted)
    assert(rows.map(_.getLong(1)).sum == n)
  }

  test("m7_m9: cluster-size multiset is deterministic and matches the frozen golden") {
    // the closest honest analogue of the reference's recorded sizes
    // {3:652, 2:462, ...} (TF-IDF_K-Means_approach.ipynb:7983): with a
    // fixed seed and fixed partitioning, the KMeans outcome is
    // deterministic, and the SORTED size multiset is invariant to label
    // permutation — so it can be frozen as a golden. If this fails after
    // an intentional pipeline change, re-freeze ONLY after two
    // consecutive runs agree (the in-JVM double run below guards that).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    def sizes(): Seq[Long] = {
      val clustered = TextPipeline.clusterDocuments(docs, "text", k = 5,
        nInit = 1)
      val s = clustered.groupBy("cluster").count()
        .as[(Int, Long)].collect().map(_._2).sorted.toSeq
      clustered.unpersist()
      s
    }
    val s1 = sizes()
    val s2 = sizes()
    assert(s1 == s2, s"KMeans run not deterministic: $s1 vs $s2")
    info(s"cluster-size multiset: $s1")
    val golden = Seq(25L, 101L, 111L, 123L, 140L)
    assert(s1 == golden, s"multiset drifted from golden: $s1 != $golden")
  }

  test("m7_m9: pinned-partitioning multiset matches the registered oracle golden") {
    // the REGISTERED m7_m9 query pins repartition(8, doc_id) + in-
    // partition sort before vectorization so float-sum order cannot vary
    // with CPU count (verified identical at local[8] vs local[32]); its
    // DuckDB twin freezes this multiset as golden VALUES. This spec
    // holds the same numbers so a drift (Spark upgrade, pipeline change)
    // fails here at test time, not first at the driver's verify gate.
    // sf0.01 EXPLICITLY (not the harness sfDir): the oracle runs there,
    // and this harness's local[4]/shuffle=4 config doubles as evidence
    // the pinned input makes the outcome session-config-independent.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
      .repartition(8, $"doc_id").sortWithinPartitions("doc_id")
    val clustered = TextPipeline.clusterDocuments(docs, "text", k = 5,
      nInit = 1)
    val sizes = clustered.groupBy("cluster").count()
      .as[(Int, Long)].collect().map(_._2).sorted.toSeq
    clustered.unpersist()
    assert(sizes == Seq(25L, 100L, 101L, 133L, 141L),
      s"pinned multiset drifted (update the m7_m9 oracle too!): $sizes")
  }

  test("word2vec + sentence2vec + knn curve on a tiny corpus (M1-M3)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .limit(60)
      .select($"doc_id", graft.text.Clean.splitWs(lower($"text")).as("tokens"))
    val model = Embed.word2vec(docs, "tokens", vectorSize = 16,
      maxIter = 1, minCount = 1)
    val vecs = Embed.sentence2vec(model, docs, "tokens")
    assert(vecs.columns.contains("sent_vec"))
    assert(vecs.count() == 60)
    // curve over the vectors (as float arrays)
    val arr = vecs.select($"doc_id",
      VectorOps.toArray($"sent_vec").as("v"))
    val curve = Embed.knnDistanceCurve(arr, "doc_id", "v", k = 8)
      .as[(Int, Double)].collect()
    assert(curve.length == 60)
    // column-sorted: curve must be non-decreasing in i
    assert(curve.map(_._2).sliding(2).forall(p => p.head <= p.last + 1e-12))
  }

  test("sentence2vecLocal is bit-identical to sentence2vec (the transform), " +
    "OOV tokens included, and runs no job") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = sfDir.stripSuffix("sf0.001") + sf
      val toks = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", graft.text.Clean.tokenizeTreebankish(lower(
          graft.text.Clean.cleanMessage($"text"))).as("tokens"))
        .filter(size($"tokens") > 0)
      // full vocabulary, and a fit on the first doc alone: the rest of
      // the corpus then carries tokens the model has never seen
      for ((fitOn, what) <- Seq((toks, "full fit"),
          (toks.orderBy("doc_id").limit(1), "subset fit"))) {
        val model = Embed.word2vec(fitOn, "tokens", vectorSize = 16,
          maxIter = 1)
        val want = Embed.sentence2vec(model, toks, "tokens")
          .select($"tokens", VectorOps.toArray($"sent_vec").as("v"))
          .collect()
        val vocab = model.getVectors.collect().map(_.getString(0)).toSet
        val sentences = want.map(_.getSeq[String](0)).toSeq
        if (what == "subset fit")
          assert(sentences.exists(_.exists(t => !vocab.contains(t))),
            s"$sf: the subset fit must leave OOV tokens")
        val (got, _, jobs) = graft.core.Util.jobsIn(spark, "s2vLocal") {
          Embed.sentence2vecLocal(model, sentences)
        }
        assert(jobs == 0, s"$sf $what: sentence2vecLocal ran $jobs jobs")
        def bits(v: Seq[Double]) = v.map(java.lang.Double.doubleToRawLongBits)
        assert(got.length == want.length)
        want.indices.foreach { i =>
          assert(bits(got(i).toSeq) == bits(want(i).getSeq[Double](1)),
            s"$sf $what: row $i differs")
        }
      }
    }
  }

  test("knnDistanceCurve refuses to collect past maxN (driver-matrix guard)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(30)
    val e = intercept[IllegalArgumentException] {
      Embed.knnDistanceCurve(emb, "vec_id", "embedding", k = 3, maxN = 10)
        .count()
    }
    assert(e.getMessage.contains("knnDistanceCurveApprox"))
    // at the boundary it still runs
    assert(Embed.knnDistanceCurve(emb, "vec_id", "embedding", k = 3,
      maxN = 30).count() == 30)
  }

  test("knnDistanceCurveApprox tracks the exact curve's scale") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(60)
    val exact = Embed.knnDistanceCurve(emb, "vec_id", "embedding", k = 5)
      .agg(avg("curve")).head().getDouble(0)
    val approx = Embed.knnDistanceCurveApprox(emb, "vec_id", "embedding",
      k = 5, bands = 12, bitsPerBand = 2)
      .agg(avg("curve")).head().getDouble(0)
    // candidates are a subset => per-point j-th candidate distance >= exact
    assert(approx >= exact - 1e-9)
    assert(approx <= exact * 2.0, s"approx=$approx exact=$exact")
  }

  test("lsaProject fits d > 70k features (past ml.feature.PCA's 65535 cap)") {
    // synthetic sparse TF-IDF-like rows over a 70,001-term vocabulary:
    // two planted "topics" (disjoint heavy index blocks) + per-doc noise
    // terms, so the top singular directions are well-defined
    val d = 70001
    val rows = (0 until 60).map { i =>
      val topic = if (i % 2 == 0) 0 else 35000
      val idx = Array(topic, topic + 1, topic + 2,
        10000 + (i * 1543) % 20000, 69000 + i).distinct.sorted
      (i.toLong, org.apache.spark.ml.linalg.Vectors.sparse(
        d, idx, idx.map(_ => 1.0)))
    }
    val out = TextPipeline.lsaProject(rows.toDF("doc_id", "features"), dim = 5)
      .select($"doc_id", $"lsa_vec")
      .as[(Long, org.apache.spark.ml.linalg.Vector)].collect()
    assert(out.length == 60)
    assert(out.forall(_._2.size == 5))
    // projections are L2-renormalized
    out.foreach { case (_, v) =>
      val n2 = v.toArray.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-9 || n2 == 0.0)
    }
    // the two planted topics must separate in LSA space: same-topic docs
    // sit closer than cross-topic docs on average
    val byTopic = out.groupBy(_._1 % 2 == 0).map { case (k, vs) =>
      k -> vs.map(_._2.toArray)
    }
    def centroid(vs: Seq[Array[Double]]) =
      vs.transpose.map(_.sum / vs.size).toArray
    val c0 = centroid(byTopic(true)); val c1 = centroid(byTopic(false))
    val cross = math.sqrt(c0.zip(c1).map { case (a, b) =>
      (a - b) * (a - b) }.sum)
    assert(cross > 0.1, s"topic centroids should separate, dist=$cross")
  }

  test("lsaProject pads to dim on a rank-deficient corpus (fixed width)") {
    // rank-2 data (two distinct rows repeated): computeSVD retains < dim
    // singular values; output must still be `dim` wide, zero-padded
    val rows = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 2.0, 0.0, 1.0)
        else Array(0.0, 1.0, 3.0, 0.0)
      (i.toLong, org.apache.spark.ml.linalg.Vectors.dense(base))
    }
    val out = TextPipeline.lsaProject(rows.toDF("doc_id", "features"), dim = 4)
      .select($"lsa_vec").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
    assert(out.forall(_.size == 4))
    assert(out.forall(v => math.abs(
      v.toArray.map(x => x * x).sum - 1.0) < 1e-9))
  }

  test("silhouette on the labeled embeddings fixture (M10)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"label",
        VectorOps.toMlVector($"embedding").as("features"))
      .withColumn("prediction", $"label")
    val s = Metrics.silhouette(emb, "features", "prediction")
    assert(s >= -1.0 && s <= 1.0)
  }

  test("silhouette norm-formula == retired all-pairs form (M10 oracle independence)") {
    // r15 re-formed the m10_metrics DuckDB twin from the all-pairs
    // silhouette (O(n²·d), intractable at sf1) to the same norm-formula
    // decomposition ClusteringEvaluator uses, which means oracle and
    // engine now share the formulation. This spec KEEPS the retired
    // independent form alive: an exact driver-side all-pairs
    // squared-Euclidean silhouette (a(i) over OTHER own-cluster points,
    // singleton → 0, b(i) = min other-cluster mean, s = (b−a)/max(a,b))
    // must match Metrics.silhouette to 1e-9 — so a shared algebraic
    // mistake in the norm decomposition (e.g. dividing own-cluster sums
    // by np instead of np−1) fails HERE, not silently at both twins.
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    // two labelings: the clean fixture labels, and one with a forced
    // singleton cluster (vec_id 0 → its own label) for the a=null path
    val labelings: Seq[(String, Map[Long, Int])] = Seq(
      "fixture" -> raw.map(t => t._1 -> t._2).toMap,
      "singleton" -> raw.map(t =>
        t._1 -> (if (t._1 == 0L) 9999 else t._2)).toMap)
    for ((name, lab) <- labelings) {
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val scores = raw.map { case (id, _, v) =>
        val own = lab(id)
        val byCluster = raw.groupBy(t => lab(t._1))
        val np = byCluster(own).length
        if (np <= 1) 0.0
        else {
          val a = byCluster(own).filter(_._1 != id)
            .map(t => d2(v, t._3)).sum / (np - 1)
          val b = byCluster.collect { case (c, pts) if c != own =>
            pts.map(t => d2(v, t._3)).sum / pts.length }.min
          (b - a) / math.max(a, b)
        }
      }
      val expected = scores.sum / scores.length
      val withPred = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", VectorOps.toMlVector($"embedding").as("features"))
        .withColumn("prediction", udf((id: Long) => lab(id)).apply($"vec_id"))
      val got = Metrics.silhouette(withPred, "features", "prediction")
      assert(math.abs(got - expected) < 1e-9,
        s"$name labeling: norm-formula $got != all-pairs $expected")
    }
  }

  test("external metrics on the labeled embeddings fixture (M10)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // predict = label → perfect scores; shuffle labels → lower
    val m = Metrics.external(emb.withColumn("pred", $"label"), "label", "pred")
    assert(m.vMeasure == 1.0 && m.adjustedRand == 1.0)
  }
}
