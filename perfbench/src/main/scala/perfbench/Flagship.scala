package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{ClusterStats, Dbscan, Embed, Kneedle, TextPipeline, VectorOps}
import graft.text.Clean

/** Stage spans of the paper's two pipelines, run through graft's public
  * stage functions in the order `SparkEntry.flagshipLabels` (with its
  * default caps) and `m7_m9_cluster_pipeline` use them, each stage
  * materialized before the next starts so its time is its own:
  * clean+tokenize → word2vec → sentence2vec → kNN curve → Kneedle ε →
  * DBSCAN → cluster stats, and TF-IDF → KMeans. The caps and seeds
  * restate flagshipLabels' defaults; the client checks every traced run's
  * labels against flagshipLabels itself, so a change there that this copy
  * misses fails the run.
  */
object Flagship {
  private val CurveCap = 2000L
  private val FitCap = 20000L

  /** The documents as `m_flagship_shape` feeds them to flagshipLabels:
    * hash-partitioned on doc_id, sorted within partitions. */
  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
      .repartition(8, col("doc_id")).sortWithinPartitions("doc_id")

  /** The stage spans, and the labeled documents (doc_id, text, label)
    * the chain produced. */
  def spans(spark: SparkSession, dir: String): (Map[String, Double], DataFrame) = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def span[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      out(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val docs0 = docs(spark, dir)

    val (toks, n0) = span("text.clean_tokenize_s") {
      val docs = docs0.select(col("doc_id"), Clean.cleanMessage(col("text")).as("text"))
      val toks = docs.select(col("doc_id"), col("text"),
          Clean.tokenizeTreebankish(lower(col("text"))).as("tokens"))
        .filter(size(col("tokens")) > 0).cache()
      toks.count()
      (toks, docs0.count())
    }
    val model = span("ml.word2vec_s") {
      val fit = if (n0 > FitCap) toks.sample(withReplacement = false,
        FitCap.toDouble / n0, seed = 43L) else toks
      Embed.word2vec(fit, "tokens", vectorSize = 16, maxIter = 1)
    }
    val (vecs, n) = span("ml.sentence2vec_s") {
      val vecs = Embed.sentence2vec(model, toks, "tokens")
        .select(col("doc_id"), col("text"), VectorOps.toArray(col("sent_vec")).as("v"))
        .cache()
      (vecs, vecs.count())
    }
    toks.unpersist()
    val curve = span("ml.knn_curve_s") {
      val input = if (n > CurveCap) vecs.sample(withReplacement = false,
        CurveCap.toDouble / n, seed = 42L) else vecs
      val k = Embed.defaultK(if (n > CurveCap) input.count() else n)
      Embed.collectCurve(Embed.knnDistanceCurve(input, "doc_id", "v", k,
        maxN = (CurveCap * 2).toInt))
    }
    val eps = span("ml.kneedle_s") {
      Kneedle.epsilonSearch(curve).getOrElse(curve(curve.length / 2))
    }
    val labeled = span("ml.dbscan_s") {
      val labels =
        if (n > CurveCap) Dbscan.sampled(vecs.select(col("doc_id"), col("v")),
          "doc_id", "v", eps = math.max(eps, 1e-3), minPts = 5,
          sampleCap = CurveCap.toInt)
        else Dbscan.distributed(vecs.select(col("doc_id"),
            VectorOps.toMlVector(col("v")).as("features")),
          "doc_id", "features", eps = math.max(eps, 1e-3), minPts = 5)
      vecs.join(labels, "doc_id").select("doc_id", "text", "label")
        .localCheckpoint(true)
    }
    vecs.unpersist()
    span("ml.cluster_stats_s") {
      ClusterStats.stats(labeled, "label", "text", "doc_id").localCheckpoint(true)
    }
    span("ml.tfidf_lsa_kmeans_s") {
      materialize(TextPipeline.clusterDocuments(docs0, "text", k = 5, nInit = 1)
        .groupBy("cluster").agg(count(lit(1)).as("n_docs")))
    }
    (out.toMap, labeled)
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
