package graft.expr

import graft.SparkSpec
import graft.text.{Clean, TextStats}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Parity gate: the native single-pass text kernels must agree with the
  * interpreted split/HOF/regex forms they replaced — on adversarial
  * strings (blank, whitespace-only, every \s class member, multi-byte
  * UTF-8, punctuation runs) and on the whole fixture corpus. */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val adversarial = Seq(
    "",
    " ",
    " \t\n\f\r ",
    "the quick brown fox",
    "  padded   with   runs  ",
    "tabs\tand\nnewlines\rhere",
    "café naïve 你好 😀",
    "a. b! c? #tag ... ,,,",
    "the the the of of and",
    "UPPER the Of AND mixed",
    "1234 5678 !@#$ %^&*",
    "single")

  private def docs = adversarial.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    .union(spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id" + 1000, $"text"))

  // the pre-kernel interpreted forms. The blank guard uses the
  // ws-NORMALIZED trim (the old space-only trim counted tab-only text as
  // one token — a quirk, not a semantic; the kernel and the updated
  // DuckDB twins both return 0 there)
  private def oldTokenCount(text: Column): Column =
    when(length(trim(regexp_replace(text, "\\s+", " "))) === 0, lit(0))
      .otherwise(size(Clean.splitWs(text)))
  private def oldStopHits(text: Column, stops: Seq[String]): Column =
    size(filter(Clean.splitWs(text), t => t.isin(stops.map(lit): _*)))
  private def oldNonAlnum(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]"))
  private def oldNonWsChars(text: Column): Column =
    length(concat_ws("", Clean.splitWs(text)))
  private def oldLetterTokens(text: Column): Column =
    size(filter(Clean.splitWs(text), t => t.rlike("[A-Za-z]")))
  // the regex graft_bpeish_count replaced
  private val BpeishRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** Distinct char-gram shingle-hash set of an ALREADY-normalized column. */
  private def shingleSet(norm: Column, gram: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(norm) - (gram - 1), lit(1))),
      i => xxhash64(norm.substr(i, lit(gram)))))

  /** |A ∩ B| / |A ∪ B| of two shingle sets (1.0 when both are empty). */
  private def jaccardOfSets(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(sa) + size(sb) - inter
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** The first 16 hex chars of md5 as a long, assembled from two 32-bit
    * `conv` parses so ANSI long arithmetic never overflows. */
  private def md5Hash64(t: Column): Column = {
    val hex = md5(t.cast("binary"))
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  private def assertParity(name: String, native: Column, old: Column): Unit = {
    val bad = docs.select($"doc_id", $"text", native.as("n"), old.as("o"))
      .filter($"n" =!= $"o").collect()
    assert(bad.isEmpty,
      s"$name diverges on ${bad.length} rows, first: ${bad.take(3).mkString("; ")}")
  }

  test("wsTokenCount == blank-guarded size(splitWs)") {
    assertParity("wsTokenCount",
      call_function("graft_ws_token_count", $"text"), oldTokenCount($"text"))
  }

  test("stopHits == size(filter(splitWs, isin)) for all four marker lists") {
    for (stops <- Seq(TextStats.enStops, TextStats.esStops,
        TextStats.deStops, TextStats.frStops, TextStats.gopherStops)) {
      assertParity(s"stopHits(${stops.head}…)",
        TextStats.stopHitCount(lower($"text"), stops),
        oldStopHits(lower($"text"), stops))
    }
  }

  test("nonAlnumCount == regexp_count([^A-Za-z0-9\\s])") {
    assertParity("nonAlnumCount",
      call_function("graft_non_alnum_count", $"text"), oldNonAlnum($"text"))
  }

  test("nonWsCharCount == length(concat_ws('', splitWs))") {
    assertParity("nonWsCharCount",
      call_function("graft_nonws_char_count", $"text"), oldNonWsChars($"text"))
  }

  test("letterTokenCount == size(filter(splitWs, rlike letter))") {
    assertParity("letterTokenCount",
      call_function("graft_letter_token_count", $"text"),
      oldLetterTokens($"text"))
  }

  test("bpeishCount == regexp_count(BpeishRe) on BMP text; per-codepoint beyond") {
    // Java regex counts a supplementary (4-byte) codepoint once per
    // UTF-16 unit; RE2 (the DuckDB oracle) and the kernel count once per
    // CODEPOINT. Parity vs the old regex form is asserted on text without
    // supplementary chars; the emoji case pins the oracle-side semantics.
    val bmp = docs.filter(!$"text".rlike("[\\x{10000}-\\x{10FFFF}]"))
    val bad = bmp.select($"doc_id",
        call_function("graft_bpeish_count", $"text").as("n"),
        regexp_count($"text", lit(BpeishRe)).as("o"))
      .filter($"n" =!= $"o").collect()
    assert(bad.isEmpty, s"bpeish diverges on ${bad.length} BMP rows")
    val emoji = Seq((0L, "a😀b 😀😀")).toDF("doc_id", "text")
      .select(call_function("graft_bpeish_count", $"text"))
      .head().getInt(0)
    assert(emoji == 5, s"a,😀,b,😀,😀 should be 5 per-codepoint tokens, got $emoji")
  }

  test("ngramJaccard kernel == shingleSet/array_intersect chain") {
    // adjacent fixture pairs plus adversarial short/empty/multibyte pairs
    val pairs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", Clean.normWs(lower($"text")).as("na"))
      .withColumn("nb", lead($"na", 1).over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      .filter($"nb".isNotNull)
      .union(Seq((9001L, "", ""), (9002L, "ab", "ab"), (9003L, "a", "xyz"),
        (9004L, "café 你好", "café 你好 extra"), (9005L, "aaaa", "aaab"))
        .toDF("doc_id", "na", "nb"))
    val bad = pairs.select($"doc_id",
        call_function("graft_ngram_jaccard", $"na", $"nb", lit(3)).as("k"),
        jaccardOfSets(shingleSet($"na", 3), shingleSet($"nb", 3)).as("o"))
      .filter($"k" =!= $"o").collect()
    assert(bad.isEmpty,
      s"ngramJaccard diverges on ${bad.length} pairs: ${bad.take(3).mkString(";")}")
  }

  test("simHashMd5 kernel == the 64-fold md5 expression chain") {
    // the pre-kernel interpreted form, reproduced verbatim
    def oldSimHash(text: Column): Column = {
      val hs = transform(Clean.splitWs(lower(text)), t => md5Hash64(t))
      val bits = (0 until 64).map { b =>
        val vote = aggregate(hs, lit(0L), (acc, h) =>
          acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        when(vote > 0, 1L).otherwise(0L)
      }
      bits.reduce((acc, bit) => shiftleft(acc, 1).bitwiseOR(bit))
    }
    val bad = docs.select($"doc_id",
        call_function("graft_simhash_md5", lower($"text")).as("k"),
        oldSimHash($"text").as("o"))
      .filter($"k" =!= $"o").collect()
    assert(bad.isEmpty,
      s"simhash diverges on ${bad.length} rows: ${bad.take(3).mkString(";")}")
  }

  test("qualityScore and langId survive the kernel swap (fixture parity)") {
    // the composed scores, old-form twins rebuilt inline
    val toks = Clean.splitWs($"text")
    val nTok = size(toks).cast("double")
    val nChar = length($"text").cast("double")
    val punct = oldNonAlnum($"text").cast("double")
    val stopRatio = oldStopHits(lower($"text"), TextStats.enStops)
      .cast("double") / greatest(nTok, lit(1.0))
    val lenScore = least(nChar / lit(200.0), lit(1.0))
    val punctScore = lit(1.0) - least(punct / greatest(nChar, lit(1.0)) * 5.0, lit(1.0))
    val wordLen = (nChar - (nTok - 1)) / greatest(nTok, lit(1.0))
    val wordLenScore = when(wordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    val stopScore = least(stopRatio * lit(4.0), lit(1.0))
    val oldQuality = (lenScore + punctScore + wordLenScore + stopScore) / 4.0
    assertParity("qualityScore", TextStats.qualityScore($"text"), oldQuality)

    val en = oldStopHits(lower($"text"), TextStats.enStops)
    val es = oldStopHits(lower($"text"), TextStats.esStops)
    val de = oldStopHits(lower($"text"), TextStats.deStops)
    val fr = oldStopHits(lower($"text"), TextStats.frStops)
    val mx = greatest(en, es, de, fr)
    val oldLang = when(mx === 0, lit("unk"))
      .when(en === mx, lit("en")).when(es === mx, lit("es"))
      .when(de === mx, lit("de")).otherwise(lit("fr"))
    assertParity("langId", TextStats.langId($"text"), oldLang)
  }
}
