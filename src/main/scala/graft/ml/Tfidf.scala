package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational TF-IDF (SURVEY.md §2.4 A8–A12) — the hand-rolled path of
  * `TF-IDF_K-Means_approach.ipynb:1195-5599`, expressed as shuffled
  * aggregations instead of driver dict-of-dicts.
  *
  * Long form `(doc_id, token, weight)` rather than map columns: it joins,
  * prunes and aggregates relationally, and at 100 TB each step is one
  * partial-agg shuffle keyed on token or doc id — no driver state, no
  * vocabulary broadcast until explicitly requested.
  */
object Tfidf {

  /** Explode a token-array column to long form (docId, token). */
  def tokenLong(df: DataFrame, idCol: String, tokensCol: String): DataFrame =
    df.select(col(idCol), explode(col(tokensCol)).as("token"))

  /** A8 vocabulary: distinct tokens (token-set union via explode+distinct).
    * Reference folds set.union over rows (TF-IDF_K-Means_approach.ipynb:1195-1198);
    * explode+distinct is the shuffle-parallel equivalent. */
  def vocab(df: DataFrame, idCol: String, tokensCol: String): DataFrame =
    tokenLong(df, idCol, tokensCol).select("token").distinct()

  /** A9 term frequency per document: count(token in doc) / len(doc tokens).
    * (TF-IDF_K-Means_approach.ipynb:5514-5524.) One shuffle on (doc, token);
    * doc length rides along via a group-max instead of a second join. */
  def termFreq(df: DataFrame, idCol: String, tokensCol: String): DataFrame =
    // measured NOT worth a fanOut exchange: the whitespace-split explode
    // is light (a8-a12 regressed ~+0.3 s each fanned at sf0.1)
    df.select(col(idCol), size(col(tokensCol)).as("doc_len"),
        explode(col(tokensCol)).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("term_cnt"), max("doc_len").as("doc_len"))
      .withColumn("tf", col("term_cnt").cast("double") / col("doc_len"))

  /** A10 document frequency + IDF with the reference's UNsmoothed
    * `ln(N / df)` (TF-IDF_K-Means_approach.ipynb:5541-5553; note
    * ml.feature.IDF smooths as ln((N+1)/(df+1)) — documented delta).
    * `n` is passed in so callers can reuse a known count (one job less).
    *
    * idf is quantized to 1e-6 (round(ln·1e6)/1e6): ln differs by 1 ulp
    * between libm implementations, so raw ln output is not reproducible
    * across engines — micro-quantization makes the operator deterministic
    * everywhere while keeping 6 significant decimals (the reference prints
    * no more). */
  def docFreqIdf(df: DataFrame, idCol: String, tokensCol: String,
                 n: Long): DataFrame =
    df.select(col(idCol), explode(array_distinct(col(tokensCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("idf",
        round(log(lit(n.toDouble) / col("df")) * 1e6, 0) / 1e6)

  /** A11 TF·IDF: join the per-doc TF with the per-token IDF. The IDF side
    * is |vocab| rows — small relative to the corpus, so AQE broadcasts it;
    * the TF side never reshuffles. */
  def tfidf(df: DataFrame, idCol: String, tokensCol: String, n: Long): DataFrame = {
    val tf = termFreq(df, idCol, tokensCol)
    val idf = docFreqIdf(df, idCol, tokensCol, n).select("token", "idf")
    tf.join(idf, Seq("token"))
      .withColumn("tf_idf", col("tf") * col("idf"))
      .select(col(idCol), col("token"), col("tf"), col("idf"), col("tf_idf"))
  }

  /** BM25 (Okapi) top-k retrieval over a tokenized corpus — the ranked
    * lexical-search companion to the TF-IDF stack (and the classic
    * hybrid-retrieval partner of the embedding cosine top-k in
    * dedup/Similarity): score(d, Q) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·|d|/avgdl)) with the Robertson/Spärck-Jones
    * idf floored positive à la Lucene, idf(t) = ln(1 + (N − df + ½)/(df + ½)).
    *
    * Scale shape (100 TB): the corpus is touched by ONE projection pass —
    * each row's token array is pruned to the ≤|Q| query terms with the
    * codegen'd array `filter` BEFORE exploding, so the (doc, term) shuffle
    * carries at most |Q| rows per document instead of the full token
    * stream. Document frequencies are re-aggregated from that same tiny
    * frame (≤|Q| rows), broadcast back, and the final top-k plans as
    * TakeOrderedAndProject — no global sort, no second corpus scan beyond
    * the one-row avgdl aggregate.
    *
    * idf and the final score are micro-quantized to 1e-6 (same contract
    * as [[docFreqIdf]]): ln differs by ulps across libm implementations,
    * so raw transcendental output is not reproducible across engines.
    * Ties at the quantized score break on ascending `idCol`, making the
    * top-k total-order deterministic. */
  def bm25TopK(df: DataFrame, idCol: String, tokensCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    val q = array(queryTerms.distinct.map(lit): _*)
    // two tiny global stats in one job: corpus size and mean doc length
    val Array(nDocs, avgdl) = df
      .agg(count(lit(1)).cast("double"), avg(size(col(tokensCol))))
      .first().toSeq.map(_.asInstanceOf[Double]).toArray
    val tf = df
      .select(col(idCol), size(col(tokensCol)).as("doc_len"),
        explode(filter(col(tokensCol), t => array_contains(q, t))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("term_cnt"), max("doc_len").as("doc_len"))
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("idf", round(
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6,
        0) / 1e6)
      .select("token", "idf")
    tf.join(broadcast(idf), Seq("token"))
      .withColumn("w", col("idf") *
        (col("term_cnt") * (k1 + 1.0)) /
        (col("term_cnt") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("doc_len") / lit(avgdl))))
      .groupBy(col(idCol))
      .agg((round(sum("w") * 1e6, 0) / 1e6).as("bm25"))
      .orderBy(desc("bm25"), col(idCol))
      .limit(k)
  }

  /** A12 df-ratio vocabulary pruning (`TfidfVectorizer(max_df=0.8,
    * min_df=0.02)`, TF-IDF_K-Means_approach.ipynb:7707-7711): keep tokens
    * whose df/N lies in [minDf, maxDf]. */
  def pruneVocab(df: DataFrame, idCol: String, tokensCol: String, n: Long,
                 minDf: Double = 0.02, maxDf: Double = 0.8): DataFrame =
    docFreqIdf(df, idCol, tokensCol, n)
      .withColumn("df_ratio", col("df").cast("double") / n.toDouble)
      .filter(col("df_ratio") >= minDf && col("df_ratio") <= maxDf)
      .select("token", "df", "df_ratio")
}
