package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: orthogonal 0, parallel 1, zero-vector guard 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 1.0f), Seq(2.0f, 2.0f)),
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val r = df.select(Similarity.cosine($"a", $"b").as("c")).as[Double].collect()
    assert(math.abs(r(0)) < 1e-12)
    assert(math.abs(r(1) - 1.0) < 1e-12)
    assert(r(2) == 0.0)
  }

  test("bruteForceTopK returns self first on the embeddings fixture") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        Seq(0L -> q), 5)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect()
    assert(top.head._1 == 0L)
    assert(math.abs(top.head._2 - 1.0) < 1e-9)
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last)) // sorted desc
  }

  private def queries(emb: DataFrame, ids: Seq[Long]): Seq[(Long, Seq[Float])] =
    ids.map(id => id ->
      emb.filter($"vec_id" === id).select("embedding").head().getSeq[Float](0))

  /** (q_id → vec_id set) of a top-k frame. */
  private def idSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select($"q_id", $"vec_id".cast("long")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  // Shared recall@10 harness: the quantitative quality gate for the
  // approximate search paths, measured over 10 fixture queries (one
  // batch) against the brute-force twin — the exact configs the
  // llm_ann_topk / llm_ivf_topk / llm_pq_topk registrations run
  // (measured grid: ann 8/4 → 0.72, 12/3 → 0.95; ivf nprobe 2 → 0.72,
  // 4 → 0.92).
  private def recallAt10(emb: DataFrame,
                         approxOf: Seq[(Long, Seq[Float])] => DataFrame)
      : Seq[Double] = {
    val qs = queries(emb, 0L until 10L)
    val exact = idSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10))
    val approx = idSets(approxOf(qs))
    qs.map { case (id, _) =>
      approx.getOrElse(id, Set.empty).intersect(exact(id)).size / 10.0
    }
  }

  test("int8 quantization: recall@10 >= 0.9 vs float brute force; guards") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val quant = Similarity.quantizeInt8(emb, "vec_id", "embedding").cache()
    val qs = queries(emb, Seq(0L, 7L, 23L, 101L, 200L))
    // the driver-side query quantization is the kernel's: same codes
    qs.foreach { case (qid, qf) =>
      val kernel = quant.filter($"vec_id" === qid)
        .select("codes").head().getSeq[Byte](0)
      assert(graft.expr.VecKernels.quantizeI8(qf.map(_.toDouble).toArray)
        .toByteArray().toSeq == kernel, s"qid=$qid")
    }
    val exact = idSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10))
    val approx = idSets(Similarity.quantizedTopK(quant, "vec_id", "codes", qs, 10))
    val recalls = qs.map { case (qid, _) =>
      (exact(qid) intersect approx(qid)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"int8 quantized mean recall@10 on fixture: $mean%.3f")
    assert(mean >= 0.9, s"recalls=$recalls")
    // zero-vector guard: all-zero float vector → all-zero codes, cosine 0
    val z = Seq((1L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(z, "vec_id", "embedding")
      .select("codes").as[Seq[Byte]].head()
    assert(zq.forall(_ == 0))
    quant.unpersist()
  }

  test("annTopK mean recall@10 >= 0.9 on the fixture (production config 12/3)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val rec = recallAt10(emb,
      qs => Similarity.annTopK(emb, "vec_id", "embedding", qs, 10))
    val mean = rec.sum / rec.size
    info(f"annTopK bands=12 bits=3 mean recall@10 = $mean%.2f (min ${rec.min}%.2f)")
    assert(mean >= 0.9, f"mean recall@10 $mean%.2f < 0.9")
    emb.unpersist()
  }

  test("ivf search mean recall@10 >= 0.9 on the fixture (nlist=8 nprobe=4)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val rec = recallAt10(emb, qs => Similarity.ivfTopK(emb, "vec_id",
      "embedding", qs, 10, nlist = 8, nprobe = 4))
    val mean = rec.sum / rec.size
    info(f"ivf nlist=8 nprobe=4 mean recall@10 = $mean%.2f (min ${rec.min}%.2f)")
    assert(mean >= 0.9, f"mean recall@10 $mean%.2f < 0.9")
    emb.unpersist()
  }

  test("pq ADC+rerank mean recall@10 >= 0.9 on the fixture (m=8 ksub=32 rerank=100)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val (encoded, books) = Similarity.pqIndex(emb, "vec_id", "embedding")
    val enc = encoded.cache()
    // codes are genuinely m bytes and within [0, ksub)
    val c0 = enc.filter($"vec_id" === 0).select("codes")
      .as[Seq[Byte]].head()
    assert(c0.length == 8 && c0.forall(b => b >= 0 && b < 32))
    val rec = recallAt10(emb,
      qs => Similarity.pqTopK(enc, books, "vec_id", "embedding", qs, 10,
        rerank = 100))
    val mean = rec.sum / rec.size
    info(f"pq m=8 ksub=32 rerank=100 mean recall@10 = $mean%.2f (min ${rec.min}%.2f)")
    assert(mean >= 0.9, f"mean recall@10 $mean%.2f < 0.9")
    // determinism: a second fit from the same seed reproduces the codes
    val (encoded2, _) = Similarity.pqIndex(emb, "vec_id", "embedding")
    assert(encoded2.filter($"vec_id" === 0).select("codes")
      .as[Seq[Byte]].head() == c0)
    enc.unpersist()
    emb.unpersist()
  }

  test("ivf sampled-fit (corpus-scale plan) recall@10 >= 0.9 with nprobe+1") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    // Force the SAMPLED centroid fit (the corpus-scale plan: the default
    // cap of 100k never binds on this 500-vector fixture) with cap=n/2 —
    // a far harsher sample ratio than production (100k cap / nlist=16 ≈
    // 6k points per centroid vs ~31 here). Sampled centroids are noisier,
    // so the recall knob compensates: one extra probed cell (nprobe 5 of
    // 8). Measured grid at cap=n/2: nprobe=4 → 0.85, nprobe=5 → 0.92.
    val n = emb.count()
    val rec = recallAt10(emb, qs => Similarity.ivfTopK(emb, "vec_id",
      "embedding", qs, 10, nlist = 8, nprobe = 5,
      fitCap = math.max(64L, n / 2)))
    val mean = rec.sum / rec.size
    info(f"ivf sampled-fit cap=n/2 nlist=8 nprobe=5 mean recall@10 = " +
      f"$mean%.2f (min ${rec.min}%.2f)")
    assert(mean >= 0.9, f"mean recall@10 $mean%.2f < 0.9")
    emb.unpersist()
  }

  test("every index's n-query route returns exactly its one-query " +
    "route's rows — same ids, same scores, same tie order") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val qs = queries(emb, Seq(0L, 7L, 23L, 101L, 200L))
    def rows(df: DataFrame): Seq[(Long, Double)] =
      df.select($"vec_id".cast("long"), $"cos_sim")
        .as[(Long, Double)].collect().toSeq
    // the n-query route's rows per q_id, in the (cos_sim desc, id) order
    // the one-query route's TakeOrderedAndProject returns them
    def batchRows(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.select($"q_id", $"vec_id".cast("long"), $"cos_sim")
        .as[(Long, Long, Double)].collect().toSeq
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.map(r => (r._2, r._3))
            .sortBy { case (id, c) => (-c, id) }
        }
    def sameRoutes(index: String)(search: Seq[(Long, Seq[Float])] => DataFrame): Unit = {
      val batch = batchRows(search(qs))
      assert(batch.keySet == qs.map(_._1).toSet, index)
      qs.foreach { q =>
        assert(batch(q._1) == rows(search(Seq(q))), s"$index qid=${q._1}")
      }
    }
    sameRoutes("exact")(Similarity.bruteForceTopK(emb, "vec_id", "embedding", _, 10))
    // int8: same kernel, one pass
    val quant = Similarity.quantizeInt8(emb, "vec_id", "embedding").cache()
    sameRoutes("i8")(Similarity.quantizedTopK(quant, "vec_id", "codes", _, 10))
    quant.unpersist()
    // lsh: same band keys, same hot-bucket guard
    sameRoutes("lsh")(Similarity.annTopK(emb, "vec_id", "embedding", _, 10))
    // ivf: same seeded fit → same centroids → same probe sets
    sameRoutes("ivf")(Similarity.ivfTopK(emb, "vec_id", "embedding", _, 10,
      nlist = 8, nprobe = 4))
    // pq: same books + encoded frame on both routes
    val (encoded, books) = Similarity.pqIndex(emb, "vec_id", "embedding")
    val enc = encoded.cache()
    sameRoutes("pq")(Similarity.pqTopK(enc, books, "vec_id", "embedding",
      _, 10, rerank = 100))
    enc.unpersist()
    emb.unpersist()
  }

  test("ivfTopK: self is top hit; recall vs brute force reasonable") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = queries(emb, Seq(3L))
    val top = Similarity.ivfTopK(emb, "vec_id", "embedding", qs, 10, nlist = 4)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect()
    assert(top.head._1 == 3L)
    val exact = idSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10))
    assert(top.map(_._1).toSet.intersect(exact(3L)).size >= 3)
  }

  test("annTopK recall vs brute force is reasonable on the fixture") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = queries(emb, Seq(7L))
    val exact = idSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10))(7L)
    val approx = idSets(Similarity.annTopK(emb, "vec_id", "embedding", qs, 10))(7L)
    // ANN contract: most of the true top-k in the candidate buckets
    assert(approx.intersect(exact).size >= 3,
      s"recall too low: ${approx.intersect(exact).size}/10")
  }

  test("rrfFuse: both-list hits outrank single-list, missing coalesces to 0") {
    // list A ranks: 1,2,3 ; list B ranks: 2,1,(absent 3), extra 9
    val a = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)).toDF("id", "score")
    val b = Seq((2L, 0.9), (1L, 0.8), (9L, 0.1)).toDF("id", "score")
    val got = Similarity.rrfFuse(Seq(a, b), k = 4)
      .select("id", "rrf").as[(Long, Double)].collect()
    // ids 1 and 2 are symmetric (ranks {1,2} vs {2,1}) → identical rrf,
    // tie broken by id; 3 and 9 have one list each
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 9L))
    assert(got(0)._2 == got(1)._2)
    assert(got(0)._2 == 1.0 / 61 + 1.0 / 62)
    assert(got(2)._2 == 1.0 / 63) // only list A
    assert(got(3)._2 == 1.0 / 63) // only list B (rank 3 there)
  }

  test("mmrRerank demotes a near-duplicate of the already-picked hit") {
    // id 1 ≈ query; id 2 is a near-copy of id 1 (high q_sim too); id 3 is
    // orthogonal and less relevant. Plain top-3 ranks 1,2,3 — MMR must
    // flip 2 and 3 because 2's similarity to the picked 1 damps it.
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.01f)),
      (2L, Seq(1.0f, 0.0f, 0.02f)),
      (3L, Seq(0.5f, 0.9f, 0.0f))).toDF("id", "v")
    val got = Similarity.mmrRerank(df, "id", "v", Seq(1.0f, 0.0f, 0.0f),
        kCand = 3, k = 3, lambda = 0.5)
      .select("rank", "doc_id").as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("mmrRerank rewards ANTI-correlated candidates (no 0-floor clamp)") {
    // after picking a=(0.8,0.6,0): c is anti-correlated to a
    // (cos ≈ −0.117 → diversity BONUS, score ≈ 0.309) and must beat
    // d (orthogonal to a, qSim 0.56, score 0.28). A max-similarity
    // accumulator seeded at 0 instead of −∞ clamps c's bonus to 0
    // (score 0.251) and flips the order to a, d, c.
    val df = Seq(
      (1L, Seq(0.8f, 0.6f, 0.0f)),
      (2L, Seq(0.5f, -0.86f, 0.0f)),
      (3L, Seq(0.56f, -0.7467f, 0.359f))).toDF("id", "v")
    val got = Similarity.mmrRerank(df, "id", "v", Seq(1.0f, 0.0f, 0.0f),
        kCand = 3, k = 3, lambda = 0.5)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("mmrRerank rank 1 is the plain best match; k caps the output") {
    val df = Seq(
      (10L, Seq(0.9f, 0.1f)), (11L, Seq(0.5f, 0.5f)),
      (12L, Seq(0.1f, 0.9f))).toDF("id", "v")
    val got = Similarity.mmrRerank(df, "id", "v", Seq(1.0f, 0.0f),
        kCand = 3, k = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(got.length == 2 && got.head == 10L)
  }

  test("rrfFuse: rank ties broken by id before fusing") {
    val a = Seq((5L, 0.5), (4L, 0.5)).toDF("id", "score")
    val got = Similarity.rrfFuse(Seq(a), k = 2)
      .select("id", "rrf").as[(Long, Double)].collect()
    // equal scores: id 4 takes rank 1
    assert(got.map(_._1).toSeq == Seq(4L, 5L))
    assert(got(0)._2 == 1.0 / 61)
  }

  test("rrfFuse: a duplicated id collapses BEFORE ranking, no slot theft") {
    // id 1 appears twice in list A (an upstream retriever bug): it must
    // contribute once at its best score's rank, must not multiply rows
    // through the full-outer join chain, and — the subtle half — must
    // not occupy a second rank slot that pushes id 2 from rank 2 (1/62)
    // to rank 3 (1/63), which would corrupt the fused ordering relative
    // to the duplicate-free list
    val a = Seq((1L, 0.9), (1L, 0.5), (2L, 0.8)).toDF("id", "score")
    val b = Seq((2L, 0.9), (1L, 0.8)).toDF("id", "score")
    val got = Similarity.rrfFuse(Seq(a, b), k = 10)
      .select("id", "rrf").as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq.sorted == Seq(1L, 2L)) // one row per id
    val m = got.toMap
    assert(m(1L) == 1.0 / 61 + 1.0 / 62)
    assert(m(2L) == 1.0 / 62 + 1.0 / 61) // rank 2 in A, NOT 3
  }
}
