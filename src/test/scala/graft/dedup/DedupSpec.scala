package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (2L, "completely different content about spark query engines and shuffles"),
    (3L, "THE  QUICK brown fox jumps over the lazy dog near the river bank today"),
    (4L, "")).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per normalized fingerprint") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    // doc 3 is a case/whitespace variant of doc 0 → dropped
    assert(kept.toSeq == Seq(0L, 1L, 2L, 4L))
  }

  test("bloom-prefilter incremental dedup equals the broadcast form") {
    // a corpus large enough that the bloom actually carries state, a
    // batch with (a) exact dups of corpus docs, (b) in-batch dups, and
    // (c) genuinely new rows — the three-way split the operator makes
    val corpus = (0 until 200).map(i => (i.toLong, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val batch = (
      (0 until 30).map(i => (1000L + i, s"corpus document number ${i * 3}")) ++ // dups of corpus
      Seq((2000L, "fresh new content alpha"), (2001L, "fresh new content alpha"), // in-batch dup
          (2002L, "fresh new content beta"))
    ).toDF("doc_id", "text")
    val plain = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val bloom = Dedup.incrementalDedupBloom(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(plain == Seq(2000L, 2002L))
    assert(bloom == plain) // exact: bloom only prunes, never decides
    // a high-fpp sketch forces MANY false positives through the exact
    // check — the result must still be identical (fpp is a cost knob,
    // never a correctness knob)
    val noisy = Dedup.incrementalDedupBloom(batch, corpus, "doc_id", "text",
        fpp = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(noisy == plain)
  }

  test("minhash signature: near-identical docs share most components") {
    val sigs = docs.filter($"doc_id" < 3)
      .select($"doc_id", Dedup.minHashSignature($"text", k = 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    def overlap(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }
    assert(overlap(sigs(0L), sigs(1L)) > overlap(sigs(0L), sigs(2L)))
    assert(overlap(sigs(0L), sigs(1L)) >= 16) // one-word tail change
  }

  test("nearDupPairs finds the near-pair, not the unrelated one") {
    val pairs = Dedup.nearDupPairs(docs.filter($"doc_id" < 3), "doc_id", "text",
      threshold = 0.5).as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L))
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("nearDedup drops the higher-id near-duplicate") {
    val kept = Dedup.nearDedup(docs.filter($"doc_id" < 3), "doc_id", "text",
      threshold = 0.5).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 2L))
  }

  test("simhash: hamming distance small for near-dups, large for different") {
    val sh = docs.filter($"doc_id" < 3)
      .select($"doc_id", Dedup.simHash64($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L)))
  }

  test("simHashNearDup finds the near pair within hamming budget") {
    // one-word tail difference flips ~10 of 64 bits on this tiny corpus;
    // 16 bands of 4 bits guarantee a collision up to hamming 15
    val pairs = Dedup.simHashNearDup(docs.filter($"doc_id" < 3),
        "doc_id", "text", maxHamming = 15, bands = 16)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L),
      s"expected (0,1) in ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simHashNearDup has FULL recall vs brute-force hamming (8 bands)") {
    // the pigeonhole contract made empirical: every pair a brute-force
    // 64-bit hamming scan finds at hamming<=6 must come out of the
    // banded join — over the real corpus fixture, not a planted pair
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val hashed = Dedup.simHashFrame(
      corpus.select($"doc_id".as("id"), $"text"), "text")
      .select("id", "simhash")
    val a = hashed.select($"id".as("ia"), $"simhash".as("ha"))
    val b = hashed.select($"id".as("ib"), $"simhash".as("hb"))
    val brute = a.crossJoin(b).filter($"ia" < $"ib")
      .withColumn("ham", Dedup.hammingDist($"ha", $"hb"))
      .filter($"ham" <= 6)
      .select($"ia", $"ib").as[(Long, Long)].collect().toSet
    val banded = Dedup.simHashNearDup(corpus, "doc_id", "text",
        maxHamming = 6, bands = 8, combine = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(banded == brute,
      s"missed=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
  }

  test("adaptive keying ladder: (9,3) and (10,4) keep FULL recall and " +
    "the exact pair set of (8,2)") {
    // the r14 saturation playbook: each ladder step widens the bucket
    // keys (16 -> 21 -> 24 bits) while bands-combine stays == maxHamming,
    // so the pigeonhole contract is preserved and the verified pair set
    // is KEYING-INVARIANT — proven here against both the base keying and
    // the brute-force hamming scan (including the non-dividing bands=9,
    // whose 7-bit slices leave bit 63 unkeyed: harmless for recall)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    def pairsAt(bands: Int, combine: Int) =
      Dedup.simHashNearDup(corpus, "doc_id", "text",
          maxHamming = 6, bands = bands, combine = combine)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val base = pairsAt(8, 2)
    assert(pairsAt(9, 3) == base)
    assert(pairsAt(10, 4) == base)
    // the ladder itself: fixture stays on the frozen-golden config,
    // sf0.1..sf1 widen one step, >1M docs widen two
    assert(Dedup.simHashBandsFor(500L) == ((8, 2)))
    assert(Dedup.simHashBandsFor(50000L) == ((9, 3)))
    assert(Dedup.simHashBandsFor(5000000L) == ((10, 4)))
  }

  test("simHashNearDup: materialize=false returns the identical pair set") {
    // the zero-storage recompute form (r10) must be a pure plan change —
    // same hashes, same buckets, same pairs
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(500)
    val ck = Dedup.simHashNearDup(corpus, "doc_id", "text",
        maxHamming = 6, bands = 8, combine = 2)
      .as[(Long, Long, Int)].collect().toSet
    val rc = Dedup.simHashNearDup(corpus, "doc_id", "text",
        maxHamming = 6, bands = 8, combine = 2, materialize = false)
      .as[(Long, Long, Int)].collect().toSet
    assert(ck == rc, s"diff=${(ck diff rc) ++ (rc diff ck)}")
  }

  test("simHashNearDup hot-bucket cap drops only single-band-covered " +
    "pairs; multi-band pairs survive") {
    // the 100 TB knob (r13, PLANS.md calibration `simhashq`: 23x
    // candidates for 10x docs once the fixed 16-bit key space saturates):
    // an overflowing bucket leaves candidate generation, but a true
    // near-pair collides in MANY of the C(8,2)=28 keys, so a moderate cap
    // keeps it. Cap at 1: every bucket with >1 doc is dropped — pairs
    // vanish entirely (each pair needs a shared bucket of >= 2). Uncapped
    // (default) is bitwise-identical to the pre-cap behavior.
    // filter, not limit: LIMIT without ORDER BY can hand each of the
    // three independent executions a different 500-row subset
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 500)
    def run(cap: Int) = Dedup.simHashNearDup(corpus, "doc_id", "text",
        maxHamming = 6, bands = 8, combine = 2, maxBucketSize = cap)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val uncapped = run(Int.MaxValue)
    assert(uncapped.nonEmpty)
    // a generous cap keeps the full pair set (no bucket on this fixture
    // is hotter than the cap... asserted, so the test fails loudly if
    // the fixture ever densifies past it)
    assert(run(100000) == uncapped)
    assert(run(1).isEmpty)
  }

  test("ngramJaccard: identity 1, near-dup high, distinct low") {
    val r = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") === 0)
      .select(col("b.doc_id"),
        Dedup.ngramJaccard(col("a.text"), col("b.text")).as("j"))
      .as[(Long, Double)].collect().toMap
    assert(r(0L) == 1.0)
    assert(r(1L) > 0.7)
    assert(r(2L) < 0.3)
  }

  test("repeatedSpanStrip: shared, repeated, short, and unique spans") {
    // win=10; "0123456789" is the duplicated unit
    val dup = "0123456789"
    val in = Seq(
      (0L, s"aaaa${dup}bbbb"),      // shares the window with doc 1
      (1L, s"cccc${dup}dddd"),      // second copy
      (2L, s"ee${dup}xx${dup}ff"),  // within-doc repeat also counts
      (3L, "completely unique text with no repeats"),
      (4L, "tiny"),                 // shorter than the window — untouched
      (5L, dup))                    // exactly one window, fully duplicated
      .toDF("doc_id", "text")
    val r = Dedup.repeatedSpanStrip(in, "doc_id", "text", win = 10)
      .as[(Long, String, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(0L) == (("aaaabbbb", 10L)))
    assert(r(1L) == (("ccccdddd", 10L)))
    assert(r(2L) == (("eexxff", 20L)))
    assert(r(3L)._2 == 0L && r(3L)._1.nonEmpty)
    assert(r(4L) == (("tiny", 0L)))
    assert(r(5L) == (("", 10L)))
  }

  test("repeatedSpanStrip merges overlapping covered intervals") {
    // "abcdefghijk" (11 chars) has two windows of 10 (starts 1,2); both
    // duplicated via the two carrier docs → covered intervals [1,10] and
    // [2,11] merge to the whole string
    val in = Seq(
      (0L, "xxabcdefghijkyy"),
      (1L, "zzabcdefghijkww")).toDF("doc_id", "text")
    val r = Dedup.repeatedSpanStrip(in, "doc_id", "text", win = 10)
      .as[(Long, String, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(0L) == (("xxyy", 11L)))
    assert(r(1L) == (("zzww", 11L)))
  }

  test("editDistancePairs equals brute force on random short strings") {
    val rng = new scala.util.Random(7)
    val words = (1 to 60).map(i =>
      (i.toLong, (1 to (3 + rng.nextInt(5)))
        .map(_ => ('a' + rng.nextInt(3)).toChar).mkString))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- Seq(0, 1, 2)) {
      val got = Dedup.editDistancePairs(words.toDF("id", "t"), "id", "t", k)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = (for {
        (ia, ta) <- words; (ib, tb) <- words
        if ia < ib && lev(ta, tb) <= k
      } yield (ia, ib)).toSet
      assert(got == brute, s"k=$k: ${got.size} vs ${brute.size}")
    }
  }
}
