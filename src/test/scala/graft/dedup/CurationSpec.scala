package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate flags docs sharing an n-gram with the eval set") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"), // eval doc
      (1L, "zzz alpha beta gamma delta qqq"), // shares the 3-gram
      (2L, "totally unrelated words here now"),
      (3L, "alpha beta gamma delta epsilon")) // exact copy of eval doc
      .toDF("doc_id", "text")
    val r = Curation.decontaminate(docs, docs.filter($"doc_id" === 0),
        "doc_id", "text", n = 3)
      .as[(Long, Long, Boolean)].collect().map(x => x._1 -> x).toMap
    assert(r(0L)._3 && r(3L)._3) // eval doc + its copy
    assert(r(1L)._3 && r(1L)._2 >= 1)
    assert(!r(2L)._3 && r(2L)._2 == 0)
  }

  test("decontaminateScan matches the join form on adversarial inputs") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),      // eval doc
      (1L, "zzz  alpha   beta\tgamma delta qqq"),  // messy whitespace, shares gram
      (2L, "totally unrelated words here now"),
      (3L, "ALPHA Beta GAMMA delta epsilon"),      // case-folded match
      (4L, "alpha beta"),                          // shorter than n
      (5L, ""),                                    // empty
      (6L, "alpha beta gamma alpha beta gamma delta epsilon x")) // repeated grams
      .toDF("doc_id", "text")
    val evalDocs = docs.filter($"doc_id" === 0)
    val join = Curation.decontaminate(docs, evalDocs, "doc_id", "text", n = 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val scan = Curation.decontaminateScan(docs, evalDocs, "doc_id", "text", n = 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(scan == join)
    assert(scan.find(_._1 == 1L).get._3)  // sanity: the match is real
    assert(!scan.find(_._1 == 4L).get._3) // too short → clean
  }

  test("decontaminateScan eval-size contract: literal kernel under the " +
    "cap, silent join-form fallback past it, identical results") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "zzz alpha beta gamma delta qqq"),
      (2L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val evalDocs = docs.filter($"doc_id" === 0)
    // eval doc 0 has 3 distinct 3-grams; cap 2 forces the fallback
    val under = Curation.decontaminateScan(docs, evalDocs, "doc_id", "text",
      n = 3, maxEvalGrams = 8)
    val over = Curation.decontaminateScan(docs, evalDocs, "doc_id", "text",
      n = 3, maxEvalGrams = 2)
    // the plan SHAPE is the contract: under-cap rides the scan kernel
    // (foldable literal, no join); over-cap is the broadcast-join form.
    // Analyzed plan, not optimized: over a local Seq the optimizer
    // constant-folds both forms down to a LocalRelation
    assert(under.queryExecution.analyzed.toString
      .contains("graft_gram_hits"))
    val overPlan = over.queryExecution.analyzed.toString
    assert(!overPlan.contains("graft_gram_hits") && overPlan.contains("Join"))
    assert(under.as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq ==
      over.as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq)
    // a non-positive cap is a caller bug, not a silent fallback
    intercept[IllegalArgumentException] {
      Curation.decontaminateScan(docs, evalDocs, "doc_id", "text",
        n = 3, maxEvalGrams = 0)
    }
  }

  test("dupGroups: components labeled by min id, singletons kept") {
    val ids = (0L to 5L).toDF("doc_id")
    // 0-1, 1-2 chain one group; 3-4 another; 5 singleton
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val r = Curation.dupGroups(ids, pairs, "doc_id")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(x => x._1 -> x).toMap
    assert(Seq(0L, 1L, 2L).forall(r(_)._2 == 0L))
    assert(Seq(3L, 4L).forall(r(_)._2 == 3L))
    assert(r(5L)._2 == 5L && r(5L)._3 == 1L && r(5L)._4)
    assert(r(0L)._3 == 3L && r(0L)._4 && !r(1L)._4)
  }

  test("dupGroups: driver union-find route == GraphX route (r20)") {
    // adversarial shapes: a chain whose min arrives LAST in union order
    // (9-8, 8-7, 7-1), a cycle with duplicate edges, reversed pairs,
    // and isolated ids — the two routes must be indistinguishable
    val ids = (0L to 12L).toDF("doc_id")
    val pairs = Seq(
      (8L, 9L), (7L, 8L), (1L, 7L),           // chain, min joins last
      (2L, 3L), (3L, 4L), (2L, 4L), (2L, 4L), // cycle + duplicate edge
      (11L, 10L),                             // reversed order pair
      (5L, 5L))                               // self-pair (degenerate)
      .toDF("id_a", "id_b")
    def run(cap: Int) =
      Curation.dupGroups(ids, pairs, "doc_id", smallGraphEdgeCap = cap)
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val small = run(200000) // driver union-find (9 edges ≤ cap)
    val large = run(0)      // cap 0 forces the GraphX Pregel route
    assert(small == large, s"routes diverged:\n$small\n$large")
    val byId = small.map(x => x._1 -> x).toMap
    assert(Seq(1L, 7L, 8L, 9L).forall(byId(_)._2 == 1L))
    assert(Seq(2L, 3L, 4L).forall(byId(_)._2 == 2L))
    assert(byId(5L)._2 == 5L && byId(5L)._3 == 1L)
    assert(Seq(0L, 6L, 12L).forall(i => byId(i)._2 == i && byId(i)._4))
  }

  test("dupGroups: a pair id outside allIds gets no row on either route") {
    // 99 is no doc: it still links 1 and 2, but neither route emits it or
    // counts it in group_size
    val ids = (0L to 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 99L)).toDF("id_a", "id_b")
    def run(cap: Int) =
      Curation.dupGroups(ids, pairs, "doc_id", smallGraphEdgeCap = cap)
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val small = run(200000)
    assert(small == Seq((0L, 0L, 1L, true), (1L, 1L, 2L, true),
      (2L, 1L, 2L, false), (3L, 3L, 1L, true)))
    assert(run(0) == small)
  }

  test("tokenPack: exclusive-prefix shard assignment, docs never split") {
    // force several range partitions so the two-pass offsets are exercised
    val df = spark.range(0, 100).toDF("doc_id")
      .withColumn("n_tokens", lit(30L))
      .repartition(7)
    val r = Curation.tokenPack(df, "doc_id", "n_tokens", budget = 100)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    r.zipWithIndex.foreach { case ((id, nt, start, shard), i) =>
      assert(id == i && nt == 30L && start == 30L * i)
      assert(shard == (30L * i) / 100)
    }
    // doc 3 starts at 90 -> lands in shard 0 even though it crosses 100
    assert(r(3)._4 == 0L && r(4)._4 == 1L)
    // empty input
    assert(Curation.tokenPack(df.limit(0), "doc_id", "n_tokens", 10)
      .count() == 0L)
  }

  test("tokenPack with AQE + skewed tokens: token_start == driver cumsum") {
    // the round-4 hazard: two .rdd actions over an unpinned
    // repartitionByRange could see different partitionings under AQE and
    // misapply pass-1 offsets. Run with AQE explicitly on, a heavily
    // skewed token distribution (every 13th doc is ~100x the median, so
    // range-sampler boundaries are skew-sensitive), scrambled input
    // partitions, and a partition count that divides nothing evenly.
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val n = 5000
      val rows = (0 until n).map { i =>
        (i.toLong, if (i % 13 == 0) 4000L + i % 7 else (i % 50 + 1).toLong)
      }
      val df = rows.toDF("doc_id", "n_tokens").repartition(11)
      val r = Curation.tokenPack(df, "doc_id", "n_tokens", budget = 10000,
          numPartitions = 9)
        .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
      assert(r.length == n)
      var cum = 0L
      rows.zipWithIndex.foreach { case ((id, nt), i) =>
        assert(r(i)._1 == id && r(i)._2 == nt)
        assert(r(i)._3 == cum, s"token_start mismatch at doc $id")
        assert(r(i)._4 == cum / 10000, s"shard mismatch at doc $id")
        cum += nt
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("seqPack: windows are exactly full, segments tile every document") {
    // skewed lengths so documents straddle multiple windows, plus
    // zero-token docs that must vanish from the stream
    val rows = (0 until 400).map { i =>
      (i.toLong,
        if (i % 17 == 0) 0L
        else if (i % 13 == 0) 150L + i % 7
        else (i % 29 + 1).toLong)
    }
    val L = 64L
    val segs = Curation.seqPack(rows.toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", seqLen = L, numPartitions = 7)
      .orderBy("seq_id", "doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    val total = rows.map(_._2).sum
    // 1) per-document tiling: segment lengths sum to n_tokens, doc_offs
    //    chain contiguously from 0
    val byDoc = segs.groupBy(_._2)
    rows.foreach { case (id, nt) =>
      if (nt == 0) assert(!byDoc.contains(id), s"zero-token doc $id emitted")
      else {
        val ss = byDoc(id).sortBy(_._3)
        assert(ss.map(_._5).sum == nt, s"doc $id segment lengths != $nt")
        ss.foldLeft(0L) { (off, s) =>
          assert(s._3 == off, s"doc $id doc_off gap"); off + s._5
        }
      }
    }
    // 2) per-window tiling: every window but the last is exactly full,
    //    segments chain contiguously from seq_off 0
    val lastSeq = (total - 1) / L
    segs.groupBy(_._1).foreach { case (sid, ss) =>
      val sorted = ss.sortBy(_._4)
      val want = if (sid == lastSeq) total - sid * L else L
      assert(sorted.map(_._5).sum == want, s"window $sid not full")
      sorted.foldLeft(0L) { (off, s) =>
        assert(s._4 == off, s"window $sid seq_off gap"); off + s._5
      }
    }
    // 3) agreement with tokenPack at equal granularity: a document's
    //    first window is its shard (both are start div L)
    val shards = Curation.tokenPack(rows.toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", budget = L, numPartitions = 7)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    byDoc.foreach { case (id, ss) =>
      assert(ss.minBy(_._3)._1 == shards(id), s"doc $id first window != shard")
    }
  }

  test("resampleToMix: quota arithmetic, stability, unknown-source drop") {
    // 3 sources, uneven counts: a=400, b=200, c=100; weights 1:1:2.
    // scale = min(400/0.25, 200/0.25, 100/0.5) = 200 → quotas 50/50/100
    // → fractions 0.125 / 0.25 / 1.0 (c fully kept, the binding source)
    val df = ((0 until 400).map(i => (i.toLong, "a")) ++
      (0 until 200).map(i => (1000L + i, "b")) ++
      (0 until 100).map(i => (2000L + i, "c")) ++
      (0 until 50).map(i => (3000L + i, "junk"))).toDF("doc_id", "source")
    val kept = Curation.resampleToMix(df, "doc_id", "source",
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 2.0))
    val counts = kept.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    assert(!counts.contains("junk")) // unweighted sources dropped
    assert(counts("c") == 100L)      // binding source fully kept
    // md5-threshold selection hits the quota within sampling noise
    assert(math.abs(counts("a") - 50L) < 25, s"a=${counts("a")}")
    assert(math.abs(counts("b") - 50L) < 25, s"b=${counts("b")}")
    // content-stability: a kept id stays kept when OTHER rows of its own
    // source are removed (fraction unchanged — counts preserved by
    // passing the same frame; membership is a pure function of id)
    val keptIds = kept.filter($"source" === "a")
      .select("doc_id").as[Long].collect().toSet
    val again = Curation.resampleToMix(df, "doc_id", "source",
        Map("a" -> 1.0, "b" -> 1.0, "c" -> 2.0))
      .filter($"source" === "a").select("doc_id").as[Long].collect().toSet
    assert(keptIds == again)
  }

  test("resampleToMix: empty frame / disjoint sources return empty, not throw") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "source")
    // disjoint source names: no positively-weighted source has rows
    val disjoint = Curation.resampleToMix(df, "doc_id", "source",
      Map("x" -> 1.0, "y" -> 2.0))
    assert(disjoint.count() == 0L)
    assert(disjoint.columns.toSeq == df.columns.toSeq)
    // empty input frame
    val empty = Curation.resampleToMix(df.limit(0), "doc_id", "source",
      Map("a" -> 1.0))
    assert(empty.count() == 0L)
  }

  test("percentileFilter: exact interpolated threshold, ties kept, " +
    "lower-tail mode") {
    // scores 1..100 (doubles): p75 over n=100 is rank 0.75*(99)=74.25 →
    // interpolated 75.25; kept upper set = scores >= 75.25 → 76..100 (25)
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "s")
    val up = Curation.percentileFilter(df, "s", 0.75)
      .select("id").as[Long].collect().toSet
    assert(up == (76 to 100).map(_.toLong).toSet, s"got ${up.size}")
    // ties AT the threshold are kept: all-equal column keeps everything
    val ties = (1 to 10).map(i => (i.toLong, 5.0)).toDF("id", "s")
    assert(Curation.percentileFilter(ties, "s", 0.75).count() == 10L)
    // keepUpper=false keeps the lower tail (perplexity-ceiling mode)
    val lo = Curation.percentileFilter(df, "s", 0.25, keepUpper = false)
      .select("id").as[Long].collect().toSet
    assert(lo == (1 to 25).map(_.toLong).toSet, s"got ${lo.size}")
  }

  test("contaminationReport: per-eval leak attribution; clean eval rows zero") {
    // eval doc 100: "a b c d e f" (grams at n=3: abc bcd cde def)
    // train doc 1 contains "a b c d" (shares abc, bcd), doc 2 contains
    // "c d e f" (shares cde, def), doc 3 is clean; eval doc 200 never leaks
    val docs = Seq(
      (1L, "x a b c d y"), (2L, "z c d e f w"), (3L, "totally clean text"),
      (100L, "a b c d e f"), (200L, "never leaked anywhere at all")
    ).toDF("doc_id", "text")
    val evalDocs = docs.filter($"doc_id" >= 100L)
    val got = Curation.contaminationReport(docs, evalDocs, "doc_id", "text",
        n = 3).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // eval 100: train partners = docs 1, 2, and itself (eval docs are in
    // the corpus frame); leaked grams = all 4 of its grams
    assert(got(100L) == ((3L, 4L)), s"got ${got(100L)}")
    // eval 200: shares grams only with itself
    assert(got(200L)._1 == 1L)
    // report covers every eval doc exactly once
    assert(got.keySet == Set(100L, 200L))
  }

  test("hashSplit is deterministic, content-stable, ~90/5/5") {
    val df = spark.range(0, 2000).toDF("doc_id")
    val r = Curation.hashSplit(df, "doc_id")
    val counts = r.groupBy("split").count().as[(String, Long)]
      .collect().toMap
    assert(counts("train") > 1600 && counts("train") < 1990)
    assert(counts.getOrElse("val", 0L) > 40)
    assert(counts.getOrElse("test", 0L) > 40)
    // stability: the same id gets the same bucket in a different frame
    val b1 = r.filter($"doc_id" === 7).select("bucket").head().getInt(0)
    val b2 = Curation.hashSplit(spark.range(7, 8).toDF("doc_id"), "doc_id")
      .select("bucket").head().getInt(0)
    assert(b1 == b2)
  }

  // two disjoint vocabularies: "target-like" raw docs should importance-
  // weight above off-target raw docs under a target model fit on the
  // target vocabulary
  private def dsirFixture = {
    val targetText = "zebra quartz fjord nymph waltz glyph vex jump"
    val offText = "plain common words about ordinary boring things here"
    val target = (100L to 109L)
      .map(i => (i, (targetText + " ") * 4 + s"t$i")).toDF("doc_id", "text")
    val raw = ((0L to 9L).map(i => (i, (targetText + " ") * 4 + s"r$i")) ++
      (10L to 19L).map(i => (i, (offText + " ") * 4 + s"o$i")) ++
      Seq((20L, ""))).toDF("doc_id", "text")
    (raw, target)
  }

  test("dsirWeights: target-like docs outscore off-target; empty doc = 0") {
    val (raw, target) = dsirFixture
    val w = Curation.dsirWeights(raw, target, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    val targetLike = (0L to 9L).map(w)
    val offTarget = (10L to 19L).map(w)
    assert(targetLike.min > offTarget.max,
      s"expected separation, got ${targetLike.min} vs ${offTarget.max}")
    assert(w(20L) == 0.0)
  }

  test("dsirSelect is the deterministic top-k prefix of the full ordering") {
    val (raw, target) = dsirFixture
    def sel(k: Int) = Curation.dsirSelect(raw, target, "doc_id", "text", k)
      .as[(Long, Double, Double)].collect().toSeq
    val all = sel(21)
    assert(all.size == 21)
    // keys are sorted desc with doc_id tiebreak
    assert(all == all.sortBy(r => (-r._3, r._1)))
    assert(sel(5) == all.take(5)) // prefix property
    assert(sel(5) == sel(5))      // deterministic across invocations
    // with this separation the top 5 must all be target-like raw docs
    assert(sel(5).forall(_._1 <= 9L))
  }
}
