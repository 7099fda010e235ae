package graft.ml

import graft.SparkSpec
import graft.text.{Clean, Filters}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.sql.functions._

class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("held-out AUC >= 0.8 vs the weak gopher labels; deterministic refit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val labels = Filters.gopherRules(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").cast("double").as("label"))
    val nPos = labels.filter($"label" === 1.0).count()
    val n = labels.count()
    info(s"weak-label balance: $nPos/$n keep")
    assert(nPos > 0 && nPos < n, "labels must not be degenerate")
    val toks = docs.select(col("doc_id"),
      Clean.splitWs(lower(col("text"))).as("tokens"))
    val labeled = toks.join(labels, "doc_id").cache()
    val model = QualityClassifier.fit(
      labeled.filter($"doc_id" % 2 === 0), "tokens", "label")
    // held-out half: the classifier never saw these docs OR their labels
    val heldOut = QualityClassifier.score(
        model, labeled.filter($"doc_id" % 2 === 1), "doc_id")
      .join(labels, "doc_id")
    val auc = new BinaryClassificationEvaluator()
      .setRawPredictionCol("quality_prob").setLabelCol("label")
      .setMetricName("areaUnderROC")
      .evaluate(heldOut.withColumn("quality_prob",
        col("quality_prob").cast("double")))
    info(f"held-out AUC vs weak gopher labels: $auc%.3f")
    assert(auc >= 0.8, f"AUC $auc%.3f < 0.8")
    // determinism: refit from the same frame reproduces the probabilities
    val model2 = QualityClassifier.fit(
      labeled.filter($"doc_id" % 2 === 0), "tokens", "label")
    val p1 = QualityClassifier.score(model, labeled, "doc_id")
      .select("doc_id", "quality_prob").as[(Long, Double)].collect().toMap
    val p2 = QualityClassifier.score(model2, labeled, "doc_id")
      .select("doc_id", "quality_prob").as[(Long, Double)].collect().toMap
    assert(p1 == p2)
    labeled.unpersist()
  }
}
