package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * All pure column expressions (codegen'd, no UDFs) so they run at full
  * scan speed over 100 TB of documents; every function is embarrassingly
  * parallel per-row (no shuffle).
  */
object TextStats {

  /** Tiny per-language stopword marker lists for the n-gram/stopword
    * language-ID heuristic. Deliberately small + deterministic so the
    * operator is SQL-expressible for the oracle. */
  val enStops = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

  /** Gopher's published stop-word list (Rae et al. 2021 §A1.1) — used by
    * the ≥2-stop-hits rule in [[Filters.gopherRules]]. Distinct from
    * [[enStops]], which is the language-ID marker list. */
  val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val esStops = Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por")
  val deStops = Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein")
  val frStops = Seq("le", "la", "les", "de", "et", "un", "une", "est", "pour", "que")

  /** Stopword-hit count over the whitespace tokens of `text` — the
    * native single-pass kernel (graft.expr.StopHits): byte-equal to
    * `size(filter(splitWs(text), _.isin(stops)))` but compiled, with no
    * token-array materialization and no per-element lambda dispatch
    * (HOFs never enter whole-stage codegen). Caller lowercases first
    * when case-insensitive hits are wanted. Requires an engine session
    * (GraftExtensions config or GraftFunctions.ensureRegistered — every
    * DataFrame-level entry point and all the mains do one of the two). */
  def stopHitCount(text: Column, stops: Seq[String]): Column =
    call_function("graft_stop_hits", (text +: stops.map(lit)): _*)

  /** Language-ID heuristic: stopword-hit voting over whitespace tokens.
    * Returns the language with the most marker hits; 'unk' when no marker
    * fires. Ties break in fixed order en > es > de > fr (deterministic). */
  def langId(text: Column): Column = {
    val lowered = lower(text)
    val en = stopHitCount(lowered, enStops)
    val es = stopHitCount(lowered, esStops)
    val de = stopHitCount(lowered, deStops)
    val fr = stopHitCount(lowered, frStops)
    val mx = greatest(en, es, de, fr)
    when(mx === 0, lit("unk"))
      .when(en === mx, lit("en"))
      .when(es === mx, lit("es"))
      .when(de === mx, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Whitespace token count — native non-ws-run counter (0 for blank
    * input by construction, matching the old blank guard). */
  def tokenCountWs(text: Column): Column =
    call_function("graft_ws_token_count", text)

  /** BPE-ish subword count: word pieces + digits + punctuation as separate
    * tokens — a cheap deterministic proxy for a real tokenizer's count.
    * Native single-pass form of the regex [A-Za-z]+|[0-9]|[^A-Za-z0-9\s],
    * per-CODEPOINT like the RE2 oracle (Java regexp_count counted 4-byte
    * codepoints twice — see TextKernels.bpeishCount). */
  def tokenCountBpeish(text: Column): Column =
    call_function("graft_bpeish_count", text)

  /** Quality score in [0,1] from length / punctuation ratio / stopword
    * ratio / mean word length — the standard cheap pretraining-data
    * heuristics, each clamped then averaged. */
  def qualityScore(text: Column): Column = {
    // native kernels; greatest(·,1) reproduces the old size(splitWs)
    // value EXACTLY in every position (split-of-blank yielded 1 where
    // the run counter yields 0; all other inputs agree), so scores are
    // bit-identical to the interpreted form this replaces
    val nTok = greatest(tokenCountWs(text), lit(1)).cast("double")
    val nChar = length(text).cast("double")
    val punct = call_function("graft_non_alnum_count", text).cast("double")
    val stopRatio = stopHitCount(lower(text), enStops).cast("double") / nTok
    val lenScore = least(nChar / lit(200.0), lit(1.0))
    val punctScore = lit(1.0) - least(punct / greatest(nChar, lit(1.0)) * 5.0, lit(1.0))
    val wordLen = (nChar - (nTok - 1)) / nTok
    val wordLenScore = when(wordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    val stopScore = least(stopRatio * lit(4.0), lit(1.0))
    (lenScore + punctScore + wordLenScore + stopScore) / 4.0
  }

  /** Content-defined document fingerprint: md5 of the lowercased,
    * whitespace-normalized text. Exact-dup detection key. */
  def fingerprintMd5(text: Column): Column =
    md5(Clean.normWs(lower(text)).cast("binary"))
}
