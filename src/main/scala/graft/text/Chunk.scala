package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sliding-window document chunking — the retrieval / context-window
  * preprocessing step: each document becomes ⌈max(n−win,0)/stride⌉+1
  * overlapping token-window chunks (stride < win ⇒ win−stride tokens of
  * overlap), with the token-span provenance a loader needs to map a
  * chunk back into its document.
  *
  * Scale shape: a pure scan — the token array is built once per row, the
  * chunk fan-out is a Generate over a bounded `sequence`, and every
  * other column is arithmetic on it. No shuffle, no join, no window; the
  * output is the only thing that grows (Σ n_i/stride rows), which is the
  * genuine output of the operator, not an intermediate. At 100 TB this
  * runs at read speed and parallelizes per input split.
  *
  * Reference behavior: corpus preprocessing ahead of the reference's
  * vectorizers (fixed-length message windows); window/stride semantics
  * follow the standard overlapping-chunk convention (e.g. HuggingFace
  * `return_overflowing_tokens` with stride).
  */
object Chunk {

  /** (doc_id, chunk_id, tok_start, tok_end, n_toks, chunk_text) per
    * sliding window. Whitespace tokenization (Clean.splitWs — python
    * str.split semantics); a blank document yields one chunk of its
    * single empty token, so every input row survives (provenance is
    * total) — a NULL text is coalesced to "" so it gets the same
    * single-empty-token chunk instead of vanishing under an explode
    * over a null sequence. `tok_end` is exclusive. */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
                    win: Int, stride: Int): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    val toks = Clean.splitWs(coalesce(col(textCol), lit("")))
    val n = size(toks).cast("long")
    // Spark's `/` is double division — floor recovers the integer ceil
    // exactly (counts are far below 2^53)
    val nChunks = lit(1L) + floor(
      (greatest(n - win.toLong, lit(0L)) + (stride - 1).toLong) / lit(stride.toLong))
      .cast("long")
    df.select(col(idCol), toks.as("_toks"), n.as("_n"),
        explode(sequence(lit(0L), nChunks.cast("long") - 1L)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride.toLong).as("tok_start"),
        least(col("chunk_id") * stride.toLong + win.toLong, col("_n")).as("tok_end"),
        col("_toks"))
      .select(col(idCol), col("chunk_id"), col("tok_start"), col("tok_end"),
        (col("tok_end") - col("tok_start")).as("n_toks"),
        array_join(slice(col("_toks"), (col("tok_start") + 1L).cast("int"),
          (col("tok_end") - col("tok_start")).cast("int")), " ").as("chunk_text"))
  }
}
