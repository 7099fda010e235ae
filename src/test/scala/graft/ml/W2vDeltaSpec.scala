package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Measures the documented (SURVEY §7) embedding-family delta: the
  * reference trains gensim's DEFAULT CBOW while Spark ML's Word2Vec is
  * skip-gram + hierarchical softmax. The claim to verify is that the
  * DOWNSTREAM clustering is invariant to the family choice. Two probes:
  *
  *  1. GATE on a planted corpus with known structure: six vocab-disjoint
  *     templates — any competent embedding separates them — trained both
  *     ways, clustered with the flagship recipe (kNN curve → kneedle ε →
  *     DBSCAN minPts=5). Each family must recover the template partition
  *     and the two label sets must agree (ARI ≥ floor vs truth AND vs
  *     each other).
  *  2. MEASURE on the documents fixture: that corpus yields a single
  *     dense component in sentence-vector space at every ε (both
  *     families agree on that), so cross-family ARI there only reflects
  *     the noise-set overlap — reported for the record, not gated.
  */
class W2vDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  private def dbscanLabels(pts: Array[Array[Double]]): Array[Int] = {
    val k = Embed.defaultK(pts.length.toLong)
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    val curve = pts.map { p =>
      pts.map(dist(p, _)).sorted.apply(math.min(k, pts.length - 1))
    }.sorted
    val eps = Kneedle.epsilonSearch(curve).getOrElse(curve(curve.length / 2))
    Dbscan.local(pts.indices.map(_.toLong).toArray, pts,
      eps = math.max(eps, 1e-9), minPts = 5).map(_.toInt)
  }

  private def clusters(labels: Array[Int]): Int =
    labels.distinct.count(_ >= 0)

  private def ariOf(a: Array[Int], b: Array[Int]): Double =
    Metrics.external(
      a.indices.map(i => (a(i), b(i))).toDF("label", "prediction"),
      "label", "prediction").adjustedRand

  test("planted templates: skip-gram and CBOW recover the same partition") {
    val rng = new scala.util.Random(7)
    val templates = (0 until 6).map(t => (0 until 8).map(w => s"w${t}_$w"))
    val sents = (0 until 240).map { i =>
      val v = templates(i % 6)
      (i.toLong, Seq.fill(10)(v(rng.nextInt(v.length))))
    }
    val truth = sents.indices.map(i => i % 6).toArray
    // family A: the engine's distributed skip-gram trainer
    val docs = sents.toDF("doc_id", "tokens")
    val model = Embed.word2vec(docs, "tokens", vectorSize = dim,
      maxIter = 3, minCount = 1)
    val sg = Embed.sentence2vec(model, docs, "tokens")
      .select($"doc_id", VectorOps.toArray($"sent_vec").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
      .map { case (id, v) => id -> v.toArray }
    // family B: the seeded CBOW reference twin (gensim default family)
    val cbow = CbowRef.train(sents.map(_._2), dim = dim, epochs = 5)
    val cb = sents.map { case (id, toks) =>
      id -> cbow.sentenceVector(toks, dim).map(_.toDouble)
    }.toMap
    val ids = sents.map(_._1)
    val la = dbscanLabels(ids.map(sg).toArray)
    val lb = dbscanLabels(ids.map(cb).toArray)
    val ariTruthSg = ariOf(truth, la)
    val ariTruthCb = ariOf(truth, lb)
    val ariCross = ariOf(la, lb)
    info(f"planted: ARI(truth,sg)=$ariTruthSg%.4f " +
      f"ARI(truth,cbow)=$ariTruthCb%.4f ARI(sg,cbow)=$ariCross%.4f " +
      s"clusters sg=${clusters(la)} cbow=${clusters(lb)}")
    // measured 1.0000 / 1.0000 / 1.0000 at this seed/config; the floor
    // leaves seed/libm room while still failing on any real divergence
    assert(ariTruthSg >= 0.9, f"skip-gram missed the partition: $ariTruthSg%.4f")
    assert(ariTruthCb >= 0.9, f"CBOW missed the partition: $ariTruthCb%.4f")
    assert(ariCross >= 0.9,
      f"embedding-family delta too large: cross ARI=$ariCross%.4f")
  }

  test("documents fixture: both families see one component (measured, not gated)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", graft.text.Clean.tokenizeTreebankish(
        lower(graft.text.Clean.cleanMessage($"text"))).as("tokens"))
      .filter(size($"tokens") > 0)
      .orderBy("doc_id")
    val model = Embed.word2vec(docs, "tokens", vectorSize = dim,
      maxIter = 1, minCount = 1)
    val sg = Embed.sentence2vec(model, docs, "tokens")
      .select($"doc_id", VectorOps.toArray($"sent_vec").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
      .map { case (id, v) => id -> v.toArray }
    val sents = docs.as[(Long, Seq[String])].collect()
    val cbow = CbowRef.train(sents.map(_._2.toSeq), dim = dim)
    val cb = sents.map { case (id, toks) =>
      id -> cbow.sentenceVector(toks, dim).map(_.toDouble)
    }.toMap
    val ids = sents.map(_._1)
    val la = dbscanLabels(ids.map(sg).toArray)
    val lb = dbscanLabels(ids.map(cb).toArray)
    // both families must agree the fixture is a single dense component
    // (that IS the family-invariance statement this corpus supports);
    // the cross ARI on the noise split is recorded for SURVEY §7
    assert(clusters(la) == 1 && clusters(lb) == 1,
      s"fixture grew real structure — promote this to a gated ARI check " +
        s"(sg=${clusters(la)} cbow=${clusters(lb)} clusters)")
    info(f"fixture: single component in both families; noise-set " +
      f"cross ARI=${ariOf(la, lb)}%.4f " +
      s"(noise sg=${la.count(_ == -1)} cbow=${lb.count(_ == -1)})")
  }
}
