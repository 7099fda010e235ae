package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/** The independent reference the driver label policy is checked
  * against: textbook DBSCAN by breadth-first expansion, with strict
  * dist < ε (the library's edge rule). Returns labels aligned to input
  * order, clusters numbered in discovery order, −1 noise, and the core
  * mask; a border point goes to the first cluster that reaches it. */
object DbscanSpec {
  def bfs(points: Array[Array[Double]], eps: Double,
          minPts: Int): (Array[Int], Array[Boolean]) = {
    val n = points.length
    val labels = Array.fill(n)(-2) // -2 unvisited
    val core = new Array[Boolean](n)
    def neighbors(i: Int): Seq[Int] = (0 until n).filter { j =>
      points(i).zip(points(j)).map { case (x, y) => (x - y) * (x - y) }
        .sum < eps * eps
    } // includes i itself
    var cluster = -1
    for (i <- 0 until n if labels(i) == -2) {
      val ni = neighbors(i)
      if (ni.length < minPts) labels(i) = -1
      else {
        cluster += 1
        labels(i) = cluster
        core(i) = true
        val queue = scala.collection.mutable.Queue(ni: _*)
        while (queue.nonEmpty) {
          val q = queue.dequeue()
          if (labels(q) == -1) labels(q) = cluster // border: claim noise
          if (labels(q) == -2) {
            labels(q) = cluster
            val nq = neighbors(q)
            if (nq.length >= minPts) { core(q) = true; queue.enqueueAll(nq) }
          }
        }
      }
    }
    (labels, core)
  }
}

class DbscanSpec extends SparkSpec {
  import spark.implicits._
  import DbscanSpec.bfs

  // two well-separated blobs + one far outlier
  private val pts: Seq[(Long, Array[Double])] =
    (0 until 10).map(i => (i.toLong, Array(0.0 + i * 0.1, 0.0))) ++
    (0 until 10).map(i => (100L + i, Array(50.0 + i * 0.1, 0.0))) ++
    Seq((999L, Array(500.0, 500.0)))

  // two 8-dim gaussian clusters whose tails approach ε = 0.55, plus a
  // sparse sub-density bridge between them. 8-dim (not 2): in low
  // dimensions few random projections already separate everything and
  // LSH recall cannot fail; at the registered workload's geometry
  // (64-dim embeddings) LSH genuinely drops edges
  private lazy val borderHeavy: Seq[(Long, Array[Double])] = {
    val dim = 8
    val rng = new scala.util.Random(7)
    def blob(cx: Double, n: Int, base: Long): Seq[(Long, Array[Double])] =
      (0 until n).map { i =>
        val a = Array.fill(dim)(rng.nextGaussian() * 0.35)
        a(0) += cx
        (base + i, a)
      }
    val bridge = (0 until 20).map { i =>
      val a = Array.fill(dim)(rng.nextDouble() * 0.5)
      a(0) = 2.0 + rng.nextDouble() * 2.0
      (5000L + i, a)
    }
    blob(0.0, 150, 0L) ++ blob(6.0, 150, 1000L) ++ bridge
  }

  test("exact DBSCAN finds 2 clusters + 1 noise") {
    val (labels, _) = bfs(pts.map(_._2).toArray, eps = 0.5, minPts = 3)
    assert(labels.count(_ == -1) == 1)
    assert(labels.distinct.count(_ >= 0) == 2)
    assert(labels.last == -1)
  }

  test("distributed DBSCAN label partition equals exact labels") {
    val df = pts.map { case (id, a) => (id, Vectors.dense(a)) }
      .toDF("id", "features")
    val dist = Dbscan.distributed(df, "id", "features", eps = 0.5, minPts = 3)
      .as[(Long, Long)].collect().toMap
    val exactDf = Dbscan.exactOnFrame(
      pts.map { case (id, a) => (id, a.toSeq) }.toDF("id", "vec"),
      "id", "vec", eps = 0.5, minPts = 3)
      .as[(Long, Long)].collect().toMap
    assert(dist.keySet == exactDf.keySet)
    // same partition: noise sets equal; clusters equal as min-id-labeled sets
    assert(dist.filter(_._2 == -1L).keySet == exactDf.filter(_._2 == -1L).keySet)
    assert(dist == exactDf)
  }

  test("CC route parity: driver union-find equals GraphX on the same graph") {
    // the small-regime route (core graph under smallGraphEdgeCap collected
    // to a driver union-find) must be indistinguishable from the GraphX
    // Pregel path it replaces — same label = min core member id contract.
    // cap=0 forces GraphX on the identical fixture; default routes driver.
    val df = pts.map { case (id, a) => (id, Vectors.dense(a)) }
      .toDF("id", "features")
    val viaDriver = Dbscan.distributed(df, "id", "features",
        eps = 0.5, minPts = 3)
      .as[(Long, Long)].collect().toMap
    val viaGraphX = Dbscan.distributed(df, "id", "features",
        eps = 0.5, minPts = 3, smallGraphEdgeCap = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaGraphX)
    assert(viaDriver.values.exists(_ >= 0)) // fixture actually clusters
  }

  test("hot-bucket salting leaves the ε-edge set unchanged (shuffle path)") {
    // the ×100 skew fix: on the shuffle path, buckets past hotBucketShard
    // are split A-by-hash / B-replicated — a pure parallelism transform.
    // Broadcast is disabled so the sharded join actually engages, and
    // hotBucketShard=2 makes nearly every bucket "hot" on the fixture;
    // the resulting edge SET must be identical to the unsharded join's.
    val df = pts.map { case (id, a) => (id, Vectors.dense(a)) }
      .toDF("id", "features")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // default cap: every fixture bucket is cold (shard ≡ 0)
      val base = Dbscan.epsEdges(df, eps = 0.5)
        .as[(Long, Long)].collect().toSet
      // cap=2: nearly every bucket hot → real A-split/B-replicate fan-out
      val sharded = Dbscan.epsEdges(df, eps = 0.5, hotBucketShard = 2)
        .as[(Long, Long)].collect().toSet
      assert(sharded == base && base.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dense-bucket blocked route leaves the ε-edge set unchanged") {
    // r17: buckets past denseBucketCap bypass the hash join for a
    // chunked blocked verify. Cap 2 makes every fixture bucket dense
    // and chunk 3 forces real same-chunk AND cross-chunk pair loops;
    // the edge SET must equal the default (all-cold) join's.
    val df = pts.map { case (id, a) => (id, Vectors.dense(a)) }
      .toDF("id", "features")
    val base = Dbscan.epsEdges(df, eps = 0.5)
      .as[(Long, Long)].collect().toSet
    val dense = Dbscan.epsEdges(df, eps = 0.5,
        denseBucketCap = 2, denseChunk = 3)
      .as[(Long, Long)].collect().toSet
    assert(dense == base && base.nonEmpty)
    // mixed regime: a cap that splits the fixture into cold AND dense
    // buckets must still reproduce the set (the first-colliding-table
    // dedup is path-independent)
    val mixed = Dbscan.epsEdges(df, eps = 0.5,
        denseBucketCap = 4, denseChunk = 2)
      .as[(Long, Long)].collect().toSet
    assert(mixed == base)
  }

  test("denseChunkPairs is invariant to input row permutation (order-independent pairing)") {
    // r17 advice (high): the chunk self-join's two sides can re-execute
    // the collect_list aggregation independently, so a same-chunk block
    // can see rx and ry as DIFFERENT permutations of the same multiset.
    // The positional j = i + 1 skip is only sound because denseChunkPairs
    // sorts both sides by id first — pin that directly: every permutation
    // pairing of a block must yield the identical edge set, including the
    // adversarial rx=[A,B] / ry=[B,A] shape from the advice.
    import org.apache.spark.sql.Row
    def mk(id: Long, f: Seq[Double], h: Seq[Double]): Row = Row(id, f, h)
    // distinct hvals(0) so entry=1 pairs are NOT owned by table 0
    val a = mk(1L, Seq(0.0, 0.0), Seq(0.0, 1.0))
    val b = mk(2L, Seq(0.1, 0.0), Seq(2.0, 1.0)) // within eps of a
    val c = mk(3L, Seq(9.0, 9.0), Seq(5.0, 6.0)) // far from both
    val eps2 = 0.25
    // the advice's exact failure shape: same-chunk, opposite orders —
    // an unsorted positional loop compares a-with-a only and misses {a,b}
    val adversarial = Dbscan
      .denseChunkPairs(0, same = true, Seq(a, b), Seq(b, a), eps2)
      .toSet
    assert(adversarial == Set((1L, 2L), (2L, 1L)))
    // exhaustive: all permutations of both sides, same-chunk and cross-
    // chunk, produce one canonical set
    val block = Seq(a, b, c)
    val sameSets = block.permutations.flatMap(p1 =>
      block.permutations.map(p2 =>
        Dbscan.denseChunkPairs(1, same = true, p1, p2, eps2).toSet)).toSet
    assert(sameSets.size == 1 && sameSets.head == Set((1L, 2L), (2L, 1L)))
    val other = Seq(mk(4L, Seq(0.2, 0.0), Seq(3.0, 1.0)))
    val crossSets = block.permutations.map(p =>
      Dbscan.denseChunkPairs(1, same = false, p, other, eps2).toSet).toSet
    assert(crossSets.size == 1 &&    // a and b both within eps of 4; c far
      crossSets.head == Set((1L, 4L), (4L, 1L), (2L, 4L), (4L, 2L)))
    // first-colliding-table dedup still honored post-sort: entry=1 with
    // table-0 hashes equal drops the pair (it belongs to table 0)
    val a0 = mk(1L, Seq(0.0, 0.0), Seq(7.0, 1.0))
    val b0 = mk(2L, Seq(0.1, 0.0), Seq(7.0, 1.0)) // shares hvals(0) with a0
    val collide0 = Dbscan
      .denseChunkPairs(1, same = true, Seq(a0, b0), Seq(b0, a0), eps2).toSet
    assert(collide0.isEmpty) // a0,b0 share hvals(0)=7.0 → earlier table wins
  }

  test("band prefilter leaves the ε-edge set equal to the co-bucket+verify definition") {
    // r16 added a cross-table hash-band prefilter before the distance
    // kernel. This is an INDEPENDENT recompute of epsEdges' contract —
    // pairs sharing ≥1 (table, bucket) with exact strict-< verify, no
    // prefilter — built driver-side from the same fitted LSH model, so
    // an over-aggressive band (dropped true candidate) fails here.
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    val df = pts.map { case (id, a) => (id, Vectors.dense(a)) }
      .toDF("id", "features")
    val eps = 0.5
    val got = Dbscan.epsEdges(df, eps = eps)
      .as[(Long, Long)].collect().toSet
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(3).setSeed(42L)
    val rows = lsh.fit(df).transform(df)
      .select($"id", $"features", $"hashes").collect()
      .map(r => (r.getLong(0),
        r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray,
        r.getSeq[org.apache.spark.ml.linalg.Vector](2).map(_(0))))
    val expected = (for {
      (ia, va, ha) <- rows
      (ib, vb, hb) <- rows
      if ia != ib
      if ha.zip(hb).exists { case (x, y) => x == y }
      if va.zip(vb).map { case (x, y) => (x - y) * (x - y) }.sum < eps * eps
    } yield (ia, ib)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("distributed DBSCAN quality gate: ARI vs exact on border-heavy data") {
    // Adversarial fixture for the LSH path (the r7 verdict's missing
    // contract): two gaussian clusters whose tails approach the eps
    // boundary, plus a sparse sub-density bridge between them — exactly
    // the data where a dropped bucket-join edge flips border labels or
    // splits a cluster. Same knobs as the registered m5_dbscan_dist
    // config (bucketLength 2.0, numHashTables 3, minPts 5).
    val all = borderHeavy
    val eps = 0.55 // near the NN-distance scale: the eps-graph is SPARSE,
                   // so one dropped LSH edge can demote cores / flip labels
    val fdf = all.map { case (id, a) => (id, Vectors.dense(a)) }
      .toDF("id", "features")
    val exactL = Dbscan.exactOnFrame(
      all.map { case (id, a) => (id, a.toSeq) }.toDF("id", "vec"),
      "id", "vec", eps = eps, minPts = 5)
      .as[(Long, Long)].collect().toMap
    def ariAt(tables: Int): Double = {
      val dist = Dbscan.distributed(fdf, "id", "features", eps = eps,
        minPts = 5, numHashTables = tables)
        .as[(Long, Long)].collect().toMap
      assert(dist.keySet == exactL.keySet)
      Metrics.external(all.map(_._1).map(id => (exactL(id), dist(id)))
        .toDF("label", "prediction"), "label", "prediction").adjustedRand
    }
    // the measured numbers at this seed/config are recorded below; the
    // floor mirrors the ANN recall gates (r6). The 1-table run documents
    // that the fixture CAN distinguish recall levels (gate sensitivity).
    val ari = ariAt(3) // the registered config
    val ariDegraded = ariAt(1)
    info(f"distributed-vs-exact ARI (3 tables, registered): $ari%.4f; " +
      f"degraded 1-table: $ariDegraded%.4f")
    assert(ari >= 0.85, s"distributed-vs-exact ARI = $ari (floor 0.85)")
  }

  test("local DBSCAN labels equal exact labels (blob and border-heavy fixtures)") {
    // exact ε-edges: the core points fall into the BFS reference's
    // clusters, each named by its min core id; every other point takes
    // its lowest core-neighbour label, and is noise exactly when the
    // reference says so
    def check(data: Seq[(Long, Array[Double])], eps: Double,
              minPts: Int): Unit = {
      val ids = data.map(_._1).toArray
      val pts = data.map(_._2).toArray
      val local = Dbscan.local(ids, pts, eps = eps, minPts = minPts)
      val (exact, core) = bfs(pts, eps, minPts)
      val cores = ids.indices.filter(core(_))
      def partition(label: Int => Long) =
        cores.groupBy(label).values.map(_.toSet).toSet
      assert(partition(local(_)) == partition(exact(_).toLong))
      cores.groupBy(local(_)).foreach { case (l, idx) =>
        assert(l == idx.map(ids(_)).min)
      }
      def near(i: Int, j: Int): Boolean =
        pts(i).zip(pts(j)).map { case (x, y) => (x - y) * (x - y) }.sum <
          eps * eps
      ids.indices.filterNot(core(_)).foreach { i =>
        val coreNbrs = cores.filter(near(i, _))
        assert(local(i) ==
          (if (coreNbrs.isEmpty) -1L else coreNbrs.map(local(_)).min))
        assert((exact(i) == -1) == coreNbrs.isEmpty)
      }
      assert(local.exists(_ >= 0) && local.exists(_ == -1L))
    }
    check(pts, eps = 0.5, minPts = 3)
    check(borderHeavy, eps = 0.55, minPts = 5)
    assert(Dbscan.local(Array.empty, Array.empty, eps = 1.0, minPts = 3).isEmpty)
  }

  test("exactOnFrame: a border point between two clusters gets the same " +
    "label in either row order, equal to local's") {
    // clusters {0..3} and {20..23}, minPts 4; point 10 lies within ε of
    // core 3 and of core 20 only, so it is a border point of both
    val a = Seq(0.0, 0.01, 0.02, 0.3).zipWithIndex
      .map { case (x, i) => (i.toLong, Array(x)) }
    val b = Seq(2.1, 2.4, 2.41, 2.42).zipWithIndex
      .map { case (x, i) => (20L + i, Array(x)) }
    val border = Seq((10L, Array(1.2)))
    val ids = (a ++ border ++ b).map(_._1).toArray
    val expected = ids.zip(Dbscan.local(ids, (a ++ border ++ b).map(_._2)
      .toArray, eps = 0.95, minPts = 4)).toMap
    assert(expected(10L) == 0L && expected(21L) == 20L)
    // the higher-id cluster first, then the lower-id one first
    Seq(b ++ border ++ a, a ++ border ++ b).foreach { rows =>
      val got = Dbscan.exactOnFrame(
        rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec"),
        "id", "vec", eps = 0.95, minPts = 4)
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
    }
  }

  test("local and exactOnFrame: an isolated point at minPts = 1 is its own cluster") {
    // |N_ε(p)| counts p itself, so at minPts = 1 every point is a core;
    // a point with no ε-neighbour forms a singleton cluster (textbook
    // DBSCAN, daal4py), also next to a real cluster
    assert(Dbscan.local(Array(7L), Array(Array(0.0, 0.0)), eps = 1.0,
      minPts = 1).sameElements(Array(7L)))
    val rows = Seq((7L, Seq(0.0, 0.0)), (3L, Seq(9.0, 9.0)),
      (5L, Seq(9.1, 9.0)))
    val got = Dbscan.exactOnFrame(rows.toDF("id", "vec"), "id", "vec",
      eps = 1.0, minPts = 1).as[(Long, Long)].collect().toMap
    assert(got == Map(7L -> 7L, 3L -> 3L, 5L -> 3L))
  }

  test("knnCurve equals collectCurve(knnDistanceCurve) on the m3_knn_curve input") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def q(x: Double): Double = math.round(x * 1e6) / 1e6
    // k = 17 is m3_knn_curve's; k = 2 takes the 2nd-NN-column branch
    Seq(17, 2).foreach { k =>
      val dist = Embed.collectCurve(
        Embed.knnDistanceCurve(emb, "vec_id", "embedding", k))
      val local = Embed.knnCurve(vecs, k)
      assert(local.length == 300 && dist.length == 300)
      local.zip(dist).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-12 * math.abs(b), s"k=$k: $a vs $b")
      }
      assert(local.map(q).sameElements(dist.map(q)))
    }
  }

  test("sampled DBSCAN: full-sample run equals exact; sub-sample keeps blobs") {
    val df = pts.map { case (id, a) => (id, a.toSeq) }.toDF("id", "vec")
    // cap ≥ n ⇒ the sample IS the data: labels equal the exact path
    val full = Dbscan.sampled(df, "id", "vec", eps = 0.5, minPts = 3,
        sampleCap = 100)
      .as[(Long, Long)].collect().toMap
    val exactDf = Dbscan.exactOnFrame(df, "id", "vec", eps = 0.5, minPts = 3)
      .as[(Long, Long)].collect().toMap
    assert(full == exactDf)
    // and the reference's partition and noise set
    val (ref, _) = bfs(pts.map(_._2).toArray, eps = 0.5, minPts = 3)
    val ids = pts.map(_._1)
    def partition(label: Long => Long) = ids.filter(label(_) >= 0)
      .groupBy(label).values.map(_.toSet).toSet
    val refOf = ids.zip(ref.map(_.toLong)).toMap
    assert(partition(full) == partition(refOf))
    assert(ids.filter(full(_) == -1L) == ids.filter(refOf(_) == -1L))
    // sub-sampled: dense blobs (300 pts each) survive; partition matches
    val blobs = (0 until 300).map(i => (i.toLong, Seq(i % 10 * 0.1, 0.0))) ++
      (0 until 300).map(i => (1000L + i, Seq(50.0 + i % 10 * 0.1, 0.0))) ++
      Seq((9999L, Seq(500.0, 500.0)))
    val bdf = blobs.toDF("id", "vec")
    val got = Dbscan.sampled(bdf, "id", "vec", eps = 0.5, minPts = 5,
        sampleCap = 100)
      .as[(Long, Long)].collect().toMap
    val clusterOf = got.filter(_._2 >= 0).groupBy(_._2).values
      .map(_.keySet).toSet
    assert(got(9999L) == -1L) // far outlier can never attach
    assert(clusterOf.size == 2, s"expected 2 clusters, got $clusterOf")
    assert(clusterOf.exists(_.forall(_ < 1000L)))
    assert(clusterOf.exists(s => s.forall(id => id >= 1000L && id < 2000L)))
  }

  test("sampled DBSCAN edge cases: empty input, single point") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("id", "vec")
    assert(Dbscan.sampled(empty, "id", "vec", eps = 1.0, minPts = 3)
      .count() == 0)
    val one = Seq((7L, Seq(0.0, 0.0))).toDF("id", "vec")
    val got = Dbscan.sampled(one, "id", "vec", eps = 1.0, minPts = 1)
      .as[(Long, Long)].collect().toMap
    // minPts=1: the lone point is its own core → its own cluster
    assert(got == Map(7L -> 7L))
  }

  test("collectCurve decimates long curves and keeps short ones whole") {
    val short = (0 until 50).map(i => (i, i.toDouble)).toDF("i", "curve")
    assert(Embed.collectCurve(short).length == 50)
    val long = (0 until 5000).map(i => (i, i.toDouble)).toDF("i", "curve")
    val dec = Embed.collectCurve(long, maxPoints = 1000)
    assert(dec.length <= 2501 && dec.length >= 1000) // step=5 → 1000+last
    assert(dec.head == 0.0 && dec.last == 4999.0)    // endpoints survive
    assert(dec.sameElements(dec.sorted))             // order preserved
  }

  test("kneedle finds the knee of a hockey-stick curve") {
    // flat then sharp rise: knee near the bend
    val curve = (0 until 50).map(i =>
      if (i < 40) 1.0 + i * 0.01 else 1.4 + (i - 40) * 2.0).toArray
    val eps = Kneedle.epsilonSearch(curve)
    assert(eps.isDefined)
    assert(eps.get >= 1.0 && eps.get <= 3.5)
  }

  test("external metrics: perfect clustering scores 1/1/1/1") {
    val df = Seq((0, 0), (0, 0), (1, 1), (1, 1), (2, 2))
      .toDF("label", "prediction")
    val m = Metrics.external(df, "label", "prediction")
    assert(math.abs(m.homogeneity - 1.0) < 1e-12)
    assert(math.abs(m.completeness - 1.0) < 1e-12)
    assert(math.abs(m.vMeasure - 1.0) < 1e-12)
    assert(math.abs(m.adjustedRand - 1.0) < 1e-12)
  }

  test("external metrics: single cluster has completeness 1, low homogeneity") {
    val df = Seq((0, 0), (0, 0), (1, 0), (1, 0)).toDF("label", "prediction")
    val m = Metrics.external(df, "label", "prediction")
    assert(math.abs(m.completeness - 1.0) < 1e-12)
    assert(m.homogeneity < 0.01)
  }
}
