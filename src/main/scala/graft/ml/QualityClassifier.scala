package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trained quality classifier — the model-based stage pretraining
  * pipelines run AFTER the rule batteries: a linear classifier over
  * hashed bag-of-token features, weak-supervised by a heuristic filter's
  * verdicts, then applied to the whole corpus as a per-doc quality
  * probability (the fastText-classifier move of the GPT-3/LLaMA data
  * work — Brown et al. 2020 §A; the reference corpus has no equivalent,
  * builder-brief north-star operator).
  *
  * Spark-first shape: HashingTF (feature hashing, no vocabulary state —
  * the same trick fastText uses, so the model is ONE dense coefficient
  * vector of `numFeatures` floats regardless of corpus vocabulary) into
  * spark.ml LogisticRegression. Training touches only the labeled
  * sample; corpus SCORING is model.transform — a broadcast-coefficients
  * per-row projection, embarrassingly parallel, no shuffle. L-BFGS on a
  * fixed frame is deterministic (no sampling, no random init).
  *
  * Quality gate (QualityClassifierSpec): held-out AUC vs the weak labels
  * — measured, not assumed; the classifier must GENERALIZE the rules
  * from lexical evidence alone, since none of the rule battery's signals
  * (counts, ratios) are in its feature space. */
object QualityClassifier {

  /** Fit on (tokens, label) rows. `labelCol` must be 0.0/1.0. */
  def fit(labeled: DataFrame, tokensCol: String, labelCol: String,
          numFeatures: Int = 1 << 15, maxIter: Int = 25,
          regParam: Double = 1e-4): PipelineModel = {
    val tf = new HashingTF().setInputCol(tokensCol)
      .setOutputCol("_features").setNumFeatures(numFeatures)
    val lr = new LogisticRegression().setFeaturesCol("_features")
      .setLabelCol(labelCol).setMaxIter(maxIter).setRegParam(regParam)
    new Pipeline().setStages(Array(tf, lr)).fit(labeled)
  }

  /** Score a frame holding `idCol` and the tokens column the model was
    * fit on: (idCol, quality_prob, quality_pred). */
  def score(model: PipelineModel, docs: DataFrame, idCol: String)
      : DataFrame =
    model.transform(docs)
      .select(col(idCol),
        round(element_at(vector_to_array(col("probability")), 2), 6)
          .as("quality_prob"),
        col("prediction").cast("long").as("quality_pred"))
}
