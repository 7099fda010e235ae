package graft.text

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenization (Sennrich et al. 2016) — the
  * token-counting layer of a pretraining data pipeline, in two halves:
  *
  *  - **Training** is the classic merge loop over a word-frequency
  *    table. The corpus-side statistic (word frequencies, and the pair
  *    frequencies of the first iteration — [[pairStats]]) is one
  *    map-side-combined shuffle; the loop itself runs on the driver over
  *    a top-`wordCap` vocabulary slice, the same bounded-driver-state
  *    trade as `Embed.word2vec`'s fitCap. At 100 TB the scan dominates
  *    and the loop cost is unchanged — it never sees the corpus, only
  *    the capped (word, freq) table.
  *  - **Encoding** ships the learned merge table (KBs) into the plan as
  *    a foldable literal and runs as a codegen'd projection kernel
  *    ([[graft.expr.BpeEncode]] / [[graft.expr.BpeCount]]): no explode,
  *    no vocab join, no shuffle — one pass over the corpus. The
  *    per-word encode is cached inside the kernel, so the cost is
  *    amortized per DISTINCT word, not per occurrence.
  *
  * The oracled queries use [[pinnedMerges]], a merge table trained
  * in-code from a pinned seed frequency list — the "shipped pretrained
  * tokenizer" shape of real pipelines (a GPT-2-style merges.txt is a
  * static artifact applied to the corpus, not retrained per run) — so
  * the DuckDB twin can be GENERATED from the same table
  * ([[encodeCaseSql]]): single source of truth, parity by construction
  * (the Treebank rule-table precedent, Clean.scala). Corpus-trained
  * merges ([[train]]) are spec-gated instead: the training loop has no
  * SQL twin, but its first merge must equal the argmax row of the
  * hash-green [[pairStats]] query by definition.
  *
  * Encode semantics and the run-divergence contract are documented on
  * [[graft.expr.BpeModel]].
  */
object Bpe {

  // ---- training ----------------------------------------------------

  /** Deterministic BPE merge training over a (word, freq) table: per
    * iteration, count adjacent symbol pairs (every position, weighted by
    * word freq), take the most frequent — ties broken by lexicographic
    * (left, right) — and merge its occurrences left-to-right in every
    * word. Pure driver code: the input is the capped vocabulary slice,
    * never the corpus. */
  def trainFromFreqs(freqs: Seq[(String, Long)], nMerges: Int)
      : Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      freqs.sortBy(_._1).map { case (w, f) =>
        val syms = mutable.ArrayBuffer[String]()
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          syms += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        (syms.toArray, f)
      }.toArray
    val merges = mutable.ArrayBuffer[(String, String)]()
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val counts = mutable.HashMap[(String, String), Long]()
      for ((syms, f) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq
          .minBy { case ((x, y), c) => (-c, x, y) }._1
        merges += best
        words = words.map { case (syms, f) => (mergeOnce(syms, best), f) }
        k += 1
      }
    }
    merges.toSeq
  }

  /** One left-to-right non-overlapping merge pass (the trainer's word
    * rewrite — matches the kernel's replace semantics on non-run text). */
  private def mergeOnce(syms: Array[String], p: (String, String))
      : Array[String] = {
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += p._1 + p._2
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Corpus-trained merges: one word-frequency shuffle (map-side
    * combined), top-`wordCap` slice by (freq desc, word asc) — bounded
    * driver state at any corpus size — then [[trainFromFreqs]]. */
  def train(docs: DataFrame, textCol: String, nMerges: Int = 40,
            wordCap: Int = 50000): Seq[(String, String)] = {
    val freqs = docs
      .select(explode(Clean.splitWs(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(wordCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    trainFromFreqs(freqs, nMerges)
  }

  // ---- pinned tokenizer --------------------------------------------

  /** Seed word frequencies for the pinned tokenizer — a Zipf-ish slice
    * of common English. Static by design (see the object scaladoc). */
  val pinnedSeed: Seq[(String, Long)] = Seq(
    "the" -> 5000L, "of" -> 3000L, "and" -> 2900L, "to" -> 2600L,
    "in" -> 2200L, "is" -> 1800L, "that" -> 1500L, "for" -> 1400L,
    "it" -> 1300L, "with" -> 1200L, "was" -> 1100L, "on" -> 1050L,
    "are" -> 1000L, "as" -> 950L, "at" -> 900L, "be" -> 880L,
    "this" -> 860L, "have" -> 840L, "from" -> 820L, "or" -> 800L,
    "one" -> 780L, "had" -> 760L, "by" -> 740L, "word" -> 720L,
    "but" -> 700L, "not" -> 680L, "what" -> 660L, "all" -> 640L,
    "were" -> 620L, "when" -> 600L, "your" -> 580L, "can" -> 560L,
    "said" -> 540L, "there" -> 520L, "use" -> 500L, "each" -> 480L,
    "which" -> 460L, "she" -> 440L, "how" -> 420L, "their" -> 400L,
    "will" -> 380L, "other" -> 360L, "about" -> 340L, "out" -> 320L,
    "many" -> 300L, "then" -> 290L, "them" -> 280L, "these" -> 270L,
    "some" -> 260L, "her" -> 250L, "would" -> 240L, "make" -> 230L,
    "like" -> 220L, "him" -> 210L, "into" -> 200L, "time" -> 190L,
    "has" -> 180L, "look" -> 170L, "more" -> 160L, "write" -> 150L,
    "number" -> 140L, "way" -> 130L, "could" -> 120L, "people" -> 110L,
    "than" -> 100L, "first" -> 95L, "water" -> 90L, "been" -> 85L,
    "call" -> 80L, "who" -> 75L, "its" -> 70L, "now" -> 65L,
    "find" -> 60L, "long" -> 55L, "down" -> 50L, "day" -> 45L,
    "did" -> 40L, "get" -> 35L, "come" -> 30L, "made" -> 25L,
    "may" -> 20L)

  /** The pinned merge table: 40 merges trained from [[pinnedSeed]].
    * Deterministic, so both the Spark literal and the generated DuckDB
    * twin derive from this one value. */
  lazy val pinnedMerges: Seq[(String, String)] = trainFromFreqs(pinnedSeed, 40)

  // ---- encode operators --------------------------------------------

  private def mergesLit(merges: Seq[(String, String)]) =
    typedlit(merges.map { case (x, y) => s"$x $y" })

  /** Distinct lower-cased corpus words → (word, pieces, n_pieces): the
    * vocabulary encode table. Encode cost is per distinct word — the
    * distinct is the only shuffle; the kernel is a codegen'd scan. */
  def vocabEncode(docs: DataFrame, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(explode(Clean.splitWs(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .withColumn("pieces",
        call_function("graft_bpe_encode", col("word"), mergesLit(merges)))
      .withColumn("n_pieces", size(split(col("pieces"), " ")).cast("long"))
  }

  /** Per-document whitespace-token and BPE-token counts as ONE projection
    * pass (no explode, no join): the 100-TB form of "how many tokens is
    * my corpus". Blank documents (0 words) are dropped, matching the
    * explode-form twin where they produce no word rows. */
  def docTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
        call_function("graft_ws_token_count", lower(col(textCol)))
          .cast("long").as("n_words"),
        call_function("graft_bpe_count", lower(col(textCol)),
          mergesLit(merges)).as("n_bpe_tokens"))
      .filter(col("n_words") > 0)
  }

  /** The first training iteration's statistic, as a distributed query:
    * adjacent character-pair frequencies over the word-frequency table
    * (every position counts, weighted by word freq — exactly what
    * [[trainFromFreqs]] maximizes, so its first merge IS this frame's
    * top row). Two map-side-combined shuffles (word freq, pair sum). */
  def pairStats(docs: DataFrame, textCol: String, topN: Int): DataFrame =
    docs.select(explode(Clean.splitWs(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      // 1-char words have no pairs; Spark sequence(1, 0) would yield a
      // DESCENDING [1, 0] rather than empty, so filter before exploding
      .filter(length(col("word")) > 1)
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substring(word, i, 1)").as("left_sym"),
        expr("substring(word, i + 1, 1)").as("right_sym"), col("cnt"))
      .groupBy("left_sym", "right_sym").agg(sum("cnt").as("pair_cnt"))
      .orderBy(desc("pair_cnt"), asc("left_sym"), asc("right_sym"))
      .limit(topN)

  // ---- DuckDB twins (generated from the same merge table) ----------

  /** The per-step rewrite of the recursive twin: `CASE mi WHEN k THEN
    * replace(s, ' x y ', ' xy ') ... ELSE s END`. Merge symbols come
    * from [[pinnedSeed]] (lowercase letters), so no SQL escaping is
    * needed; `require` guards the invariant if the table ever changes. */
  def encodeCaseSql(merges: Seq[(String, String)]): String = {
    val branches = merges.zipWithIndex.map { case ((x, y), i) =>
      require((x + y).forall(c => c.isLetterOrDigit || c == '_'),
        s"merge symbols must be SQL-literal-safe: '$x $y'")
      s"WHEN $i THEN replace(s, ' $x $y ', ' $x$y ')"
    }
    branches.mkString("CASE mi ", " ", " ELSE s END")
  }

  /** The recursive encode CTE over a one-column word CTE `wordsCte`:
    * state (word, s, mi) applies merge `mi` one replace-pass per step,
    * advancing `mi` only at that merge's fixpoint — per-merge fixpoint
    * in learned order, the kernel's exact semantics. Terminal rows have
    * `mi = nMerges`; each word yields exactly one. */
  def encodeCteSql(merges: Seq[(String, String)], wordsCte: String): String = {
    val m = merges.length
    s"enc(word, s, mi) AS (" +
      s"SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g'), 0 " +
      s"FROM $wordsCte UNION ALL " +
      s"SELECT word, CASE WHEN s2 <> s THEN s2 ELSE s END, " +
      s"CASE WHEN s2 <> s THEN mi ELSE mi + 1 END " +
      s"FROM (SELECT word, s, mi, ${encodeCaseSql(merges)} AS s2 " +
      s"FROM enc WHERE mi < $m) q), " +
      s"encoded AS (SELECT word, trim(s) AS pieces, " +
      s"len(string_split(trim(s), ' '))::BIGINT AS n_pieces " +
      s"FROM enc WHERE mi = $m)"
  }
}
