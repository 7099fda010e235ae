package graft

import graft.text.Clean
import graft.ml.Tfidf
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests from the survey's test plan (SURVEY.md §5): TF
  * normalization, IDF monotonicity, fuzz-ratio symmetry/bounds, DBSCAN
  * label-permutation invariance, minhash similarity ordering. Spark calls
  * are batched per property (one job over many generated cases), so the
  * suite stays fast. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val word = Gen.choose(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val sentence = Gen.choose(1, 12)
    .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  test("property: fuzzRatio symmetric, within [0,100], 100 iff equal-ish") {
    val cases = Gen.listOfN(60, Gen.zip(sentence, sentence)).sample.get
    val rows = cases.toDF("a", "b")
      .select(Clean.fuzzRatio($"a", $"b").as("ab"),
        Clean.fuzzRatio($"b", $"a").as("ba"), $"a", $"b")
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 100.0)
      if (r.getString(2) == r.getString(3)) assert(r.getDouble(0) == 100.0)
    }
  }

  test("property: per-doc TF sums to 1 on random corpora") {
    val docs = Gen.listOfN(40, sentence).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select($"doc_id", Clean.splitWs($"text").as("tokens"))
    val sums = Tfidf.termFreq(docs, "doc_id", "tokens")
      .groupBy("doc_id").agg(sum("tf").as("s")).as[(Long, Double)].collect()
    sums.foreach { case (_, s) => assert(math.abs(s - 1.0) < 1e-9) }
  }

  test("property: IDF is monotone non-increasing in df") {
    val docs = Gen.listOfN(50, sentence).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select($"doc_id", Clean.splitWs($"text").as("tokens"))
    val idf = Tfidf.docFreqIdf(docs, "doc_id", "tokens", 50L)
      .select("df", "idf").as[(Long, Double)].collect().sortBy(_._1)
    idf.sliding(2).foreach {
      case Array((d1, i1), (d2, i2)) =>
        if (d1 < d2) assert(i1 >= i2)
      case _ =>
    }
  }

  test("property: DBSCAN exact labels are permutation-invariant") {
    val pts = (0 until 30).map(i =>
      Array((i % 3) * 10.0 + (i % 5) * 0.01, (i % 3) * 10.0)).toArray
    val ids = pts.indices.map(_.toLong).toArray
    val l1 = graft.ml.Dbscan.local(ids, pts, eps = 0.5, minPts = 3)
    // permute input (ids travel with their points), map labels back:
    // labels are min core ids, so they must be identical, not just the
    // partition
    val perm = scala.util.Random.shuffle(pts.indices.toList).toArray
    val l2raw = graft.ml.Dbscan.local(perm.map(ids), perm.map(pts),
      eps = 0.5, minPts = 3)
    val l2 = new Array[Long](pts.length)
    perm.zipWithIndex.foreach { case (orig, pos) => l2(orig) = l2raw(pos) }
    assert(l1.sameElements(l2))
    assert(l1.distinct.count(_ >= 0) == 3)
  }

  test("property: more-similar strings share more minhash components") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val base = sentence.sample.get + " " + sentence.sample.get
    val nearDup = base.dropRight(2) + "zz"
    val distinctDoc = Gen.listOfN(20, word).sample.get.mkString(" ")
    val sigs = Seq((0L, base), (1L, nearDup), (2L, distinctDoc))
      .toDF("id", "t")
      .select($"id", call_function("graft_minhash", $"t",
        lit(64), lit(4), lit(1)).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    def overlap(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }
    assert(overlap(sigs(0L), sigs(1L)) >= overlap(sigs(0L), sigs(2L)))
  }

  test("property: binned range join == brute-force containment") {
    // random points/intervals/width — the bin rewrite must reproduce the
    // O(n·m) definition exactly for every width, including widths far
    // smaller and larger than the interval lengths
    val rng = new scala.util.Random(20260814)
    for (round <- 1 to 3) {
      val width = Seq(0.7, 13.0, 400.0)(round - 1)
      val pts = (1 to 80).map(i =>
        (i.toLong, rng.nextDouble() * 200 - 100))
      val ivs = (1 to 25).map { i =>
        val a = rng.nextDouble() * 200 - 100
        val b = a + (rng.nextDouble() - 0.2) * 30 // ~20% inverted
        (1000L + i, a, b)
      }
      val pdf = pts.toDF("pid", "p")
      val idf = ivs.toDF("iid", "lo", "hi")
      val got = graft.ops.Relational
        .rangeJoinPoints(pdf, "p", idf, "lo", "hi", width)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val brute = (for {
        (pid, p) <- pts
        (iid, lo, hi) <- ivs
        if p >= lo && p <= hi
      } yield (pid, iid)).toSet
      assert(got == brute, s"width=$width: ${got.size} vs ${brute.size}")
    }
  }
}
