package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.expr.BpeModel

class BpeSpec extends SparkSpec {

  // hand-computable toy corpus: {"aaab"×3, "ab"×2}
  //   iter 1: (a,a)=6 > (a,b)=5            -> merge (a,a)
  //   iter 2: words [aa,a,b]×3 [a,b]×2: (a,b)=5 > (aa,a)=3 -> merge (a,b)
  //   iter 3: words [aa,ab]×3 [ab]×2: (aa,ab)=3            -> merge (aa,ab)
  private val toyFreqs = Seq("aaab" -> 3L, "ab" -> 2L)

  // the pinned merges as a SQL array of the kernel's "x y" wire strings
  private lazy val pinnedLit = Bpe.pinnedMerges
    .map { case (x, y) => s"'$x $y'" }.mkString("array(", ",", ")")

  test("trainFromFreqs: golden merge sequence on the toy corpus") {
    assert(Bpe.trainFromFreqs(toyFreqs, 3) ===
      Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // asking past exhaustion stops cleanly
    assert(Bpe.trainFromFreqs(toyFreqs, 99).length === 3)
    assert(Bpe.trainFromFreqs(Nil, 5) === Nil)
    // tie-break is lexicographic on (left, right): "ab"/"ba" both freq 1
    // gives pairs (a,b)=1 and (b,a)=1 -> (a,b) first
    assert(Bpe.trainFromFreqs(Seq("ab" -> 1L, "ba" -> 1L), 1).head ===
      ("a", "b"))
  }

  private def model(merges: Seq[(String, String)]): BpeModel =
    new BpeModel(merges.map { case (x, y) => s"$x $y" }.toArray)

  test("encode: goldens under the toy merges") {
    val m = model(Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    assert(m.encode("aaab") === "aaab")          // full merge chain
    assert(m.encode("aab") === "aa b")           // (a,a) first; ' a b ' then absent
    assert(m.encode("ba") === "b a")             // no merge applies
    assert(m.encode("b") === "b")
    assert(m.encode("") === "")
    assert(m.pieceCount("aaab") === 1)
    assert(m.pieceCount("") === 0)
  }

  test("encode: pinned run-divergence contract (runs >= 5, replace semantics)") {
    // Documented on BpeModel: both engines segment via repeated
    // left-to-right non-overlapping replace passes. The first pass over a
    // run consumes the shared delimiter, so runs >= 5 of one symbol
    // alternate 'aa a aa ...' and the isolated singles are a fixpoint
    // (canonical leftmost-greedy would give 'aa aa a'). Verified
    // byte-identical against the DuckDB recursive twin.
    val m = model(Seq(("a", "a")))
    assert(m.encode("aaaa") === "aa aa")         // run of 4: pass 2 fixes it
    assert(m.encode("aaaaa") === "aa a aa")
    assert(m.encode("aaaaaaaa") === "aa a aa a aa")
  }

  test("encode: concatenation of pieces always reconstructs the word") {
    val m = model(Bpe.pinnedMerges)
    val rnd = new scala.util.Random(42)
    val alpha = "aabbcdeehilnorstu"
    val words = Seq.fill(300) {
      val n = 1 + rnd.nextInt(12)
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    } ++ Seq("aaaaaa", "the", "their", "theother", "zzzz", "x")
    words.foreach { w =>
      val enc = m.encode(w)
      assert(enc.replace(" ", "") === w, s"word '$w' -> '$enc'")
      assert(m.pieceCount(w) === enc.split(" ").length)
    }
  }

  test("encode: supplementary-plane codepoints split without surrogate tearing") {
    val m = model(Seq(("a", "a")))
    val w = "a😀aa" // a, U+1F600, a, a
    assert(m.encode(w) === "a 😀 aa")
  }

  test("pinned merges: deterministic, English-shaped, kernel == driver model") {
    assert(Bpe.pinnedMerges.length === 40)
    assert(Bpe.pinnedMerges === Bpe.trainFromFreqs(Bpe.pinnedSeed, 40))
    val m = model(Bpe.pinnedMerges)
    assert(m.encode("the") === "the") // most frequent seed word is one piece
    // kernel through the registered SQL function agrees with the driver model
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val words = Seq("the", "scan", "batch", "aaaaa", "customer")
    val got = spark.sql(
      s"SELECT graft_bpe_encode(w, $pinnedLit) FROM VALUES ${
        words.map(w => s"('$w')").mkString(",")} AS t(w)")
      .collect().map(_.getString(0)).toSeq
    assert(got === words.map(m.encode))
  }

  test("count kernel: whitespace split parity and null/blank edges") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val m = model(Bpe.pinnedMerges)
    def count(s: String): Any =
      spark.sql(s"SELECT graft_bpe_count('$s', $pinnedLit)").collect()(0).get(0)
    assert(count("the scan") === m.pieceCount("the") + m.pieceCount("scan").toLong)
    assert(count("  the\\tscan\\n") === m.pieceCount("the") + m.pieceCount("scan").toLong)
    assert(count("") === 0L)
    assert(count("   ") === 0L)
    assert(spark.sql(s"SELECT graft_bpe_count(CAST(NULL AS STRING), $pinnedLit)")
      .collect()(0).isNullAt(0))
  }

  test("pairStats top row is the corpus trainer's first merge") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val top = Bpe.pairStats(docs, "text", 1).collect()(0)
    val merges = Bpe.train(docs, "text", nMerges = 3)
    assert(merges.nonEmpty)
    assert((top.getString(0), top.getString(1)) === merges.head)
    // trained merges are deterministic across invocations
    assert(merges === Bpe.train(docs, "text", nMerges = 3))
  }

  test("vocabEncode and docTokenCounts agree on total corpus tokens") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val perDoc = Bpe.docTokenCounts(docs, "doc_id", "text", Bpe.pinnedMerges)
    val totalScan = perDoc.agg(sum("n_bpe_tokens")).collect()(0).getLong(0)
    // explode-join form: occurrences joined to the vocab encode table
    val occurrences = docs
      .select(explode(Clean.splitWs(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = Bpe.vocabEncode(docs, "text", Bpe.pinnedMerges)
      .select(col("word"), col("n_pieces"))
    val totalJoin = occurrences.join(vocab, "word")
      .agg(sum("n_pieces")).collect()(0).getLong(0)
    assert(totalScan === totalJoin)
    // blank docs are dropped, never counted as zero-token rows
    assert(perDoc.filter(col("n_words") <= 0).count() === 0)
  }
}
