package graft.ml

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M5 DBSCAN — the reference's single genuinely custom algorithm
  * (daal4py dbscan(minObservations=5, epsilon), run at ε=20/minPts=5,
  * word2vec_dbscan_approach.ipynb:223-233, :30081-30092). A point is a
  * core when its ε-neighbourhood (STRICT dist < ε, as the LSH join keeps
  * dist < threshold — a documented delta vs the textbook ≤ that only
  * boundary-exact pairs, measure-zero on real embeddings, can see; the
  * point itself included) holds ≥ minPts points. Labels: a cluster is
  * named by its min core id, −1 is noise.
  *
  * Every driver route labels through ONE array-indexed policy,
  * [[labelIndices]]: core–core components by a min-root union-find, a
  * border point takes its lowest core-neighbour label.
  *  - [[local]]: exact ε-edges over a point set already on the driver —
  *    the flagship's reference-scale route and [[exactOnFrame]], no
  *    Spark job.
  *  - [[distributed]]: LSH ε-self-join ([[epsEdges]]) → the same policy
  *    on the driver while the edge relation fits under
  *    `smallGraphEdgeCap` (probed with limit(cap+1), so the collect is
  *    bounded before it happens) — the reference-scale regime, where
  *    per-job scheduling overhead otherwise dominates; a larger graph
  *    runs GraphX Pregel CC under the same label rule.
  *  - [[sampled]]: DBSCAN++ — the policy on a bounded sample, then every
  *    point attaches to its nearest sampled core within ε.
  */
object Dbscan {

  /** The ε-edge relation (a, b): distinct ordered pairs of DISTINCT
    * points within strict Euclidean eps of each other — the HAND-ROLLED
    * LSH bucket join with approxSimilarityJoin's semantics (explode
    * hash tables, equi-join on (table, hashValue), exact Euclidean
    * verify, STRICT < eps — [[local]] matches). Two deliberate
    * differences in SHAPE vs the ml version, both scale wins:
    *  - the candidate-pair dedup (a pair can collide in several hash
    *    tables) runs on bare (a, b) LONGS after projecting ids away —
    *    approxSimilarityJoin dedups BEFORE projecting, shuffling the
    *    full (id, features, hashes)² structs through its exchange,
    *    which at sf0.1 was the operator's single largest stage;
    *  - side B carries a broadcast hint when the OPTIMIZER's estimate
    *    of the un-exploded scan (free, no job) fits the gate — the
    *    explode hides the small size from auto-broadcast, and a forced
    *    hint without the gate would OOM the driver at scale. The gate
    *    scales the estimate by numHashTables (the explode factor) ×6
    *    for decompression + unsafe-row overhead, because what actually
    *    broadcasts is the EXPLODED relation — (id, flattened double
    *    array, table, hashValue) duplicated per hash table.
    * private[graft] so PlanShapeSpec gates the plan shape (broadcast bucket
    * join, pair-only dedup — no struct exchange). Input: (id: long,
    * features: ml Vector), un-persisted (callers own caching). */
  private[graft] def epsEdges(pts: DataFrame, eps: Double,
                              bucketLength: Double = 2.0,
                              numHashTables: Int = 3,
                              hotBucketShard: Int = 4096,
                              denseBucketCap: Int = 16384,
                              denseChunk: Int = 2048): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(pts.sparkSession)
    val lsh = bucketLsh(bucketLength, numHashTables)
    // the vector is flattened to a plain double array ONCE per input
    // row, BEFORE the hash-table explode, so the per-CANDIDATE distance
    // verify — the quadratic part of a hot bucket — runs the codegen'd
    // graft_l2_sq kernel inside whole-stage codegen instead of a
    // ScalaUDF (the same interpreted-vs-kernel trade every other hot
    // path in this repo makes). ε-compare stays in SQUARED form:
    // bit-identical to [[local]]'s dist² < ε², where a rounded sqrt could
    // flip an ultra-marginal boundary pair.
    val hashed = lsh.fit(pts).transform(pts)
      .select(col("id"),
        org.apache.spark.ml.functions
          .vector_to_array(col("features")).as("farr"),
        col("hashes"),
        // all-table hash values as a plain double array (each hash is a
        // 1-element vector holding floor(proj/bucketLength)): computed
        // once per INPUT row, consumed by the per-candidate band
        // prefilter below
        transform(col("hashes"), h =>
          element_at(org.apache.spark.ml.functions.vector_to_array(h), 1))
          .as("hvals"))
    def exploded(idAs: String, fAs: String, hAs: String) = hashed.select(
      col("id").as(idAs), col("farr").as(fAs), col("hvals").as(hAs),
      posexplode(col("hashes")).as(Seq("entry", "hv")))
    // DENSE-BUCKET ROUTE (r17): the ×100 candidate census (PLANS.md
    // calibration `dbscancand`) measured the operating point's bucket
    // structure as DEGENERATE — 2-3 buckets per table, max occupancy ~n/2, so
    // ~87% of ALL pairs are candidates (6e10 enumerations at n=200k) and
    // every lossless 1-D window passes 100% of them (sub-split window
    // survival 1.000 at bl2 = eps/2, eps/4, eps/8 — the
    // occupancy-adaptive SPLIT is refuted by direct measurement: eps
    // spans the whole corpus' projection spread). At that density the
    // bill is not pruning but ENUMERATION OVERHEAD: the hash join
    // materializes ~500-byte joined rows per candidate just to feed a
    // 32-dim kernel. Buckets past `denseBucketCap` are therefore routed
    // OUT of the join entirely: members are chunked (`denseChunk` rows,
    // pmod(xxhash64(id))), chunk PAIRS meet through one bounded join
    // (replication factor occ/denseChunk, no driver state), and a
    // blocked double loop verifies pairs at array-access cost — same
    // exact contract (share ≥1 (table, bucket), a ≠ b, strict dist² <
    // eps², first-colliding-table dedup), ~50× lower constant. Cold
    // buckets keep the join (it prunes when geometry lets it).
    // The census + routing anti-joins cost a few extra tiny jobs per
    // call — real overhead for reference-scale fixtures (hundreds of
    // rows), where no bucket can possibly exceed the cap. Two gates:
    // (1) the optimizer's FREE size estimate (same source as the
    // broadcast gate below) — a bucket over the cap needs >
    // denseBucketCap input ROWS, and a row is ≥ 40 bytes (id +
    // vector), so inputs estimated under cap × 40 bytes skip
    // everything at zero cost; (2) when the estimate says "big", one
    // BOUNDED limit-probe (the smallGraphEdgeCap pattern) settles it
    // exactly — stats pass through filters un-shrunk, so a 300-row
    // filtered fixture otherwise pays the census for nothing
    // (measured +0.4 s on m5_dbscan_dist), while at corpus scale the
    // probe early-exits after cap+1 rows. An underestimate anywhere
    // only skips the optimization (the join stays exact).
    val estBytes = pts.queryExecution.optimizedPlan.stats.sizeInBytes
    val maybeDense = estBytes > BigInt(denseBucketCap) * 40 &&
      pts.limit(denseBucketCap + 1).count() > denseBucketCap
    // the dense-key census feeds THREE joins (two cold-side routing
    // anti-joins + the dense-member join); collected ONCE into a local
    // relation so the aggregation runs a single job instead of once
    // per consumer. The collect is bounded BY CONSTRUCTION: dense
    // buckets hold > denseBucketCap members and are disjoint within a
    // table, so there are at most n·tables/denseBucketCap rows (~36 at
    // the ×100 fixture) — a metadata move, like the salting hot set.
    val denseKeys =
      if (!maybeDense) null
      else {
        val census = hashed
          .select(posexplode(col("hashes")).as(Seq("entry", "hv")))
          .groupBy("entry", "hv").agg(count(lit(1)).as("occ"))
          .filter(col("occ") > denseBucketCap)
          .select(col("entry"), col("hv"),
            ceil(col("occ").cast("double") / denseChunk).cast("int")
              .as("nchunk"))
        val rows = census.collect()
        pts.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), census.schema)
      }
    def routeCold(df: DataFrame): DataFrame =
      if (!maybeDense) df
      else df.join(broadcast(denseKeys.select("entry", "hv")),
        Seq("entry", "hv"), "left_anti")
    val sideA = routeCold(exploded("a", "fa", "ha"))
    val sideBRaw = routeCold(exploded("b", "fb", "hb"))
    // Cross-table band prefilter (r16): the projection vectors are UNIT
    // norm, so a true ε-pair satisfies |proj_u(a) − proj_u(b)| < eps in
    // EVERY table u, hence |floor_u(a) − floor_u(b)| ≤ ceil(eps/bl) — a
    // necessary condition costing numHashTables array loads + compares
    // per candidate, ordered BEFORE the 32-dim graft_l2_sq kernel. The
    // edge set is provably unchanged (DbscanSpec pins it); what changes
    // is the per-candidate verify bill in dense buckets, where most
    // colliding pairs are far apart in some OTHER table's projection.
    // tight bound: Δfloor ≥ m forces |Δproj| > (m−1)·bl, so a true
    // pair (|Δproj| < eps) reaches at most m < eps/bl + 1 — at the
    // common eps/bl = 2 regime this is 2, not ceil+1's 3. No float
    // guard: plain ceil is already exact at integer ratios (m < k+1
    // implies m ≤ k) and float over-rounding can only WIDEN the band;
    // a subtractive guard could tighten it and drop a real edge (r16
    // advice).
    val band = math.ceil(eps / bucketLength + 1) - 1
    val bandOk = (0 until numHashTables).map { i =>
      abs(element_at(col("ha"), i + 1) -
        element_at(col("hb"), i + 1)) <= lit(band)
    }.reduce(_ && _)
    val est = estBytes
    // The hint exists precisely to EXCEED the auto threshold: stats
    // overestimate the exploded side, so AQE alone would shuffle a
    // relation we know fits. Gate at a fixed 64 MB — min()-ing with
    // the session threshold (default 10 MB) would neuter the hint in
    // every default session. The one user signal respected is the
    // explicit disable (-1): that IS a driver-memory decision.
    val disabled = pts.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold < 0
    val doBroadcast =
      !disabled && est * numHashTables * 6 <= BigInt(64L << 20)
    val (joinedA, joinedB, joinKeys) =
      if (doBroadcast)
        // broadcast path: map-side join, no bucket-key shuffle — a hot
        // bucket's pair work is already spread across side-A partitions
        // by row, so there is nothing to de-skew
        (sideA, broadcast(sideBRaw), Seq("entry", "hv"))
      else {
        // SHUFFLE path (the corpus-scale regime): the join keys on
        // (entry, hv), and a dense region puts BOTH sides' rows of one
        // bucket into one task — in-bucket pair work is quadratic in
        // occupancy and lands on single stragglers (measured at ×100:
        // ~6 of 32 cores busy for 20+ min on the self-similar fixture).
        // Occupancy-aware salting: one narrow count over (entry, hv)
        // finds buckets past `hotBucketShard`; the hot set is tiny
        // (≤ n·tables/hotBucketShard keys) and broadcasts. Side A rows
        // of a hot bucket get shard = hash(id) mod k with
        // k = ceil(occ/hotBucketShard); side B rows replicate to all k
        // shards — every (a, b) pair still meets in exactly one shard,
        // so the edge SET is unchanged (spec-pinned) while a hot
        // bucket's work fans out over k tasks. Cold buckets pay one
        // broadcast-join probe and a constant shard 0, no replication.
        // The broadcast(hot) hints below fire even when the session
        // threshold is -1: the disable above governs broadcasting the
        // FULL side-B relation (unbounded, a genuine driver-memory
        // risk); the hot SET is structurally bounded at
        // n·tables/hotBucketShard three-int rows (4096 rows per 16M
        // points at the default shard), so shipping it is a metadata
        // move, not a memory decision — and shuffling it would defeat
        // the de-skew it exists to provide.
        val hot = hashed
          .select(posexplode(col("hashes")).as(Seq("entry", "hv")))
          .groupBy("entry", "hv").agg(count(lit(1)).as("occ"))
          .filter(col("occ") > hotBucketShard)
          .select(col("entry"), col("hv"),
            ceil(col("occ").cast("double") / hotBucketShard)
              .cast("int").as("nshard"))
        val a = sideA.join(broadcast(hot), Seq("entry", "hv"), "left")
          .withColumn("shard", when(col("nshard").isNull, lit(0))
            .otherwise(pmod(xxhash64(col("a")), col("nshard")).cast("int")))
          .drop("nshard")
        val b = sideBRaw.join(broadcast(hot), Seq("entry", "hv"), "left")
          .withColumn("shard", explode(
            when(col("nshard").isNull, array(lit(0)))
              .otherwise(sequence(lit(0), col("nshard") - 1))))
          .drop("nshard")
        (a, b, Seq("entry", "hv", "shard"))
      }
    // First-colliding-table dedup (r17): a pair colliding in m tables is
    // enumerated m times by the bucket join and m−1 copies survive all
    // the way to the distinct() — at bl = eps/2 per-table recall is high
    // (the r16 2-vs-3-table finding), so m ≈ tables for most true
    // candidates and the kernel + dedup bill carries a ~m× multiplicity.
    // Keep a candidate only in its FIRST colliding table: for every
    // earlier table w < entry, require hash values to differ. Integer
    // compares on the already-carried hvals arrays, ordered BEFORE the
    // band prefilter and the 32-dim kernel. Lossless by construction —
    // every colliding pair still surfaces exactly once, at its minimal
    // colliding table (the edge-set recompute spec pins this).
    val firstTable = (0 until numHashTables - 1).map { w =>
      col("entry") <= w ||
        element_at(col("ha"), w + 1) =!= element_at(col("hb"), w + 1)
    }.reduceOption(_ && _).getOrElse(lit(true))
    val coldEdges = joinedA.join(joinedB, joinKeys)
      .filter(col("a") =!= col("b") && firstTable && bandOk &&
        call_function("graft_l2_sq", col("fa"), col("fb")) < lit(eps * eps))
      .select("a", "b")
    if (!maybeDense) return coldEdges.distinct()
    // blocked verify of the dense buckets: chunk members, join chunk
    // pairs (cx <= cy so each unordered chunk pair meets once), double
    // loop with the first-colliding-table skip (a cheap per-earlier-
    // table compare on the carried hash values — path-independent, so
    // a pair whose first colliding table's bucket is COLD surfaces
    // from the join and vice versa, never twice). Both orientations
    // are emitted, matching the join's ordered-pair relation.
    val denseEdges = {
      import pts.sparkSession.implicits._
      val members = exploded("a", "fa", "ha")
        .join(broadcast(denseKeys), Seq("entry", "hv"))
        .withColumn("chunk",
          pmod(xxhash64(col("a")), col("nchunk")).cast("int"))
        .select(col("entry"), col("hv"), col("chunk"),
          struct(col("a"), col("fa"), col("ha")).as("r"))
      val chunks = members.groupBy("entry", "hv", "chunk")
        .agg(collect_list(col("r")).as("rows"))
      val xs = chunks.select(col("entry"), col("hv"),
        col("chunk").as("cx"), col("rows").as("rx"))
      val ys = chunks.select(col("entry"), col("hv"),
        col("chunk").as("cy"), col("rows").as("ry"))
      val eps2 = eps * eps
      xs.join(ys, Seq("entry", "hv")).filter(col("cx") <= col("cy"))
        .select(col("entry"), (col("cx") === col("cy")).as("same"),
          col("rx"), col("ry"))
        .flatMap { row =>
          denseChunkPairs(row.getInt(0), row.getBoolean(1),
            row.getSeq[org.apache.spark.sql.Row](2),
            row.getSeq[org.apache.spark.sql.Row](3), eps2)
        }.toDF("a", "b")
    }
    coldEdges.unionByName(denseEdges).distinct()
  }

  /** The seed-42 LSH every ε-edge route buckets with: (features) →
    * (hashes), one 1-element vector floor(proj/bucketLength) per table. */
  private def bucketLsh(bucketLength: Double,
                        numHashTables: Int): BucketedRandomProjectionLSH =
    new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L)

  /** Blocked verify of one dense-bucket chunk pair: emits every ordered
    * ε-pair (a, b) AND (b, a) between `ra` and `rb` (rows of
    * struct(id: long, farr: array<double>, hvals: array<double>)) under
    * the same contract as the bucket join — a ≠ b,
    * first-colliding-table dedup against tables < `entry`, strict
    * dist² < `eps2`.
    *
    * ORDER-INDEPENDENT BY CONSTRUCTION (r17 advice, high): collect_list
    * order after a shuffle is non-deterministic, and the chunk
    * self-join's two sides can re-execute the aggregation independently
    * (exchange reuse off, broadcast plans, multi-executor fetch order) —
    * so ra and rb of a SAME-chunk block may arrive as different
    * permutations of the same multiset, and a positional j = i + 1 skip
    * would compare a row against itself and silently MISS its real
    * partner. Both sides are therefore sorted by id before pairing,
    * making same-chunk blocks see an identical sequence regardless of
    * physical order (ids are unique within a (table, bucket, chunk): one
    * exploded row per (id, table)). O(k log k) per ≤`denseChunk` block —
    * noise next to the k² verify loop. DbscanSpec pins permutation
    * invariance directly on this method.
    *
    * LAZY per-row emit (r17 verdict #4a): the old whole-block
    * ArrayBuffer held up to denseChunk² pairs (~4.2M tuples of two
    * longs) in task memory before Spark saw the first row; this
    * iterator keeps at most one row's matches (≤ 2·denseChunk tuples)
    * buffered. The inner verify loop is untouched — branch-free distance
    * accumulation is the JIT-fast form (the per-dim early-exit variant
    * measured 305–309 s vs 221–242 s at ×100 and was refuted in r17). */
  private[graft] def denseChunkPairs(entry: Int, same: Boolean,
      ra: Seq[org.apache.spark.sql.Row], rb: Seq[org.apache.spark.sql.Row],
      eps2: Double): Iterator[(Long, Long)] = {
    def unpack(rs: Seq[org.apache.spark.sql.Row])
        : (Array[Long], Array[Array[Double]], Array[Array[Double]]) = {
      val perm = rs.indices.toArray.sortBy(k => rs(k).getLong(0))
      val ids = new Array[Long](rs.length)
      val fs = new Array[Array[Double]](rs.length)
      val hs = new Array[Array[Double]](rs.length)
      var k = 0
      while (k < perm.length) {
        val r = rs(perm(k))
        ids(k) = r.getLong(0)
        fs(k) = r.getSeq[Double](1).toArray
        hs(k) = r.getSeq[Double](2).toArray
        k += 1
      }
      (ids, fs, hs)
    }
    val (ia, fa, ha) = unpack(ra)
    val (ib, fb, hb) = unpack(rb)
    val dim = if (fa.nonEmpty) fa(0).length else 0
    (0 until ia.length).iterator.flatMap { i =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var j = if (same) i + 1 else 0
      while (j < ib.length) {
        // a =!= b like the join (drops same-ID row pairs too),
        // first-colliding-table dedup, then exact strict verify
        if (ia(i) != ib(j)) {
          var w = 0
          var earlier = false
          while (w < entry && !earlier) {
            if (ha(i)(w) == hb(j)(w)) earlier = true
            w += 1
          }
          if (!earlier) {
            var s = 0.0
            var d = 0
            val x = fa(i); val y = fb(j)
            while (d < dim) {
              val t = x(d) - y(d); s += t * t; d += 1
            }
            if (s < eps2) {
              out += ((ia(i), ib(j))); out += ((ib(j), ia(i)))
            }
          }
        }
        j += 1
      }
      out
    }
  }

  /** Distributed DBSCAN. Input: (id: Long, features: ml Vector). Output:
    * (id, label) with label = min core-member id per cluster (stable,
    * partition-independent), −1 for noise.
    *
    * APPROXIMATE RECALL: the ε-self-join is LSH-bucketed, so true
    * ε-neighbors can be missed (false negatives only — distances are
    * verified exactly post-bucket). Missed edges undercount degrees and can
    * drop core–core links, so labels match [[local]] only probabilistically
    * on boundary-dense data. `numHashTables` is the recall knob: each extra
    * table is another independent chance for a near pair to share a bucket
    * (more recall, more join cost). Parity with [[local]] is asserted on
    * separated blobs in the spec; raise numHashTables when clusters sit
    * near the ε boundary.
    *
    * An id with no ε-edge is noise on both CC routes, also at minPts ≤ 1,
    * where exact DBSCAN (and [[local]]) would make it a singleton cluster:
    * that is the documented result for this degenerate input. */
  def distributed(df: DataFrame, idCol: String, featuresCol: String,
                  eps: Double, minPts: Int,
                  bucketLength: Double = 2.0,
                  numHashTables: Int = 3,
                  smallGraphEdgeCap: Int = 200000,
                  denseBucketCap: Int = 16384,
                  denseChunk: Int = 2048): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col(idCol).cast("long").as("id"),
      col(featuresCol).as("features"))
    // PERSISTED: the edge relation feeds multiple consumers (the probe,
    // and on the large route degree counts, the core-core edge list,
    // and the border-attach join) — without the persist each one
    // re-executes the whole bucket join; explicitly unpersisted right
    // after its last consumer materializes on either route.
    val joined = epsEdges(pts, eps, bucketLength, numHashTables,
        denseBucketCap = denseBucketCap, denseChunk = denseChunk)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SMALL-REGIME ROUTE (r10 verdict #3): past the LSH join, the
    // distributed pipeline is 6+ tiny Spark jobs (degree agg, core
    // filter, two core joins, CC, border agg, checkpoint) whose per-job
    // scheduling overhead IS the operator's cost on a reference-scale
    // graph (~3 s for 300 vertices in r10 — the suite's worst
    // seconds-per-row). When the ε-edge relation itself fits under the
    // cap — proved by the limit(cap+1) probe BEFORE any unbounded
    // collect — the pairs are collected once and degrees, the core
    // filter, union-find CC, and border attachment all run as driver
    // arithmetic over ≤cap long-pairs; the labels return via one
    // broadcast join. Past the cap the fully-distributed path (GraphX
    // Pregel CC) engages unchanged. Both routes produce
    // label = min core member id, indistinguishable downstream.
    // this collect is where the LAZY chain above actually executes
    // (LSH fit + bucket join + probe together)
    val edgeSample =
      joined.as[(Long, Long)].limit(smallGraphEdgeCap + 1).collect()
    if (edgeSample.length <= smallGraphEdgeCap) {
      joined.unpersist(blocking = false)
      // the pair relation holds both orientations of every ε-edge; ids
      // with no edge stay out of the policy, as on the GraphX route
      val (ids, as, bs) = graft.core.MinRootUnionFind.index(edgeSample)
      val (labels, _) = labelIndices(ids.length, minPts,
        f => as.indices.foreach(e => f(as(e), bs(e))))
      val labelDf = spark.createDataset(ids.indices.filter(labels(_) >= 0)
        .map(i => (ids(i), ids(labels(i))))).toDF("id", "label")
      // broadcast join onto the full id set; no checkpoint needed — the
      // lineage is one scan plus a local relation, nothing cached
      // remains (and LAZY: the caller's action pays for it)
      return pts.select("id")
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("label"), lit(-1L)).as("label"))
    }
    // neighbor counts (self counts once, matching |N_ε(p)| ≥ minPts with
    // p ∈ N_ε(p))
    val degrees = joined.groupBy("a").agg((count(lit(1)) + 1).as("deg"))
    val core = degrees.filter(col("deg") >= minPts).select(col("a").as("id"))
    // connected components over core–core ε-edges
    val coreSet = core.withColumn("is_core", lit(true))
    val coreEdges = joined
      .join(coreSet.select(col("id").as("a")), "a")
      .join(coreSet.select(col("id").as("b")), "b")
      .select("a", "b")
    val cc = {
      val edgeRdd =
        coreEdges.as[(Long, Long)].rdd.map { case (a, b) => Edge(a, b, ()) }
      val vertRdd = core.as[Long].rdd.map(id => (id, ()))
      Graph(vertRdd, edgeRdd).connectedComponents()
        .vertices.toDF("id", "label") // label = min vertex id in component
    }
    // border points: any non-core point with a core ε-neighbor joins that
    // cluster (lowest label for determinism); everything else is noise
    val borderLabels = joined
      .join(cc.withColumnRenamed("id", "b"), "b")
      .groupBy(col("a").as("id")).agg(min("label").as("border_label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // borderLabels is the LAST consumer of the ε-edge relation: force it
    // now, drop the edge blocks, materialize the final (id, label) frame
    // via eager localCheckpoint — truncating its lineage off every
    // intermediate cache — and then drop borderLabels too. Leaving blocks
    // to "the caller's GC" let MEMORY_AND_DISK storage accumulate across
    // repeated calls in a long-lived session (the bench runs every query
    // twice-plus); after this, the only executor-resident state is the
    // checkpointed result itself (n rows of two longs — the data the
    // caller holds), reclaimed by the ContextCleaner when it drops.
    borderLabels.count()
    joined.unpersist(blocking = false)
    val result = pts.select("id")
      .join(cc, Seq("id"), "left")
      .join(borderLabels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("border_label"), lit(-1L)).as("label"))
      .localCheckpoint(true)
    borderLabels.unpersist(blocking = false)
    result
  }

  /** The one DBSCAN label policy, over point indices `0 until n`.
    * `forEachEdge` must walk every ε-edge in BOTH orientations, (a, b) and
    * (b, a); it is called three times (degrees; core–core unions; border
    * attach). A point is a core when its edge count + 1 ≥ minPts (self
    * counts once, |N_ε(p)| ≥ minPts with p ∈ N_ε(p)), so at minPts ≤ 1 a
    * point with no edge is a core of its own. A core's label is the min
    * index of its core–core component (union by MIN root, GraphX
    * connectedComponents' vertex labeling); a border point takes its
    * lowest core-neighbour label; every other point is noise (−1).
    * Callers number indices in ascending id order, so a label is the
    * index of the cluster's min core id. Returns (labels, core mask). */
  private def labelIndices(n: Int, minPts: Int,
      forEachEdge: ((Int, Int) => Unit) => Unit): (Array[Int], Array[Boolean]) = {
    val deg = new Array[Int](n)
    forEachEdge((a, _) => deg(a) += 1)
    val core = deg.map(_ + 1 >= minPts)
    val uf = new graft.core.MinRootUnionFind(n)
    forEachEdge((a, b) => if (core(a) && core(b)) uf.union(a, b))
    val labels = Array.tabulate(n)(i => if (core(i)) uf.find(i) else -1)
    forEachEdge { (a, b) =>
      if (!core(a) && core(b) && (labels(a) < 0 || labels(b) < labels(a)))
        labels(a) = labels(b)
    }
    (labels, core)
  }

  /** Exact DBSCAN for a point set already on the driver (the flagship's
    * reference-scale route, like the reference's in-memory daal4py run),
    * computed without a job. An ε-edge joins two distinct points that lie
    * strictly within ε (VecKernels.l2Sq < ε²) — every such pair, with no
    * LSH bucketing, so the LSH recall caveat of [[distributed]] does not
    * apply here; the labels follow [[labelIndices]] (min core id per
    * cluster, min core-neighbour label for border points). The edge test
    * is recomputed on each of its scans of the pairs instead of kept as
    * an edge list, so memory stays O(n) even when ε connects every
    * pair. Ids must be unique. Returns labels aligned to `ids`. */
  def local(ids: Array[Long], pts: Array[Array[Double]], eps: Double,
            minPts: Int): Array[Long] = localWithCore(ids, pts, eps, minPts)._1

  /** As [[local]], also returning the core mask aligned to `ids`. */
  private def localWithCore(ids: Array[Long], pts: Array[Array[Double]],
      eps: Double, minPts: Int): (Array[Long], Array[Boolean]) = {
    val order = ids.indices.sortBy(ids(_)).toArray // index k ↔ k-th least id
    val p = order.map(pts)
    val eps2 = eps * eps
    val (labels, core) = labelIndices(p.length, minPts, { f =>
      var i = 0
      while (i < p.length) {
        var j = i + 1
        while (j < p.length) {
          if (graft.expr.VecKernels.l2Sq(p(i), p(j)) < eps2) { f(i, j); f(j, i) }
          j += 1
        }
        i += 1
      }
    })
    val outLabels = new Array[Long](ids.length)
    val outCore = new Array[Boolean](ids.length)
    order.indices.foreach { k =>
      outLabels(order(k)) = if (labels(k) < 0) -1L else ids(order(labels(k)))
      outCore(order(k)) = core(k)
    }
    (outLabels, outCore)
  }

  /** Sample-based DBSCAN (the DBSCAN++ pattern) — the bounded-cost scale
    * path for dense or clustered data, where the full ε-self-join
    * degenerates toward n² candidate pairs (measured: the sf0.1 flagship's
    * LSH join spilled a 10⁸-row shuffle at n=5000 because templated-corpus
    * vectors concentrate into a few hash buckets).
    *
    *  1. A seeded uniform sample of ≤ `sampleCap` points is clustered
    *     exactly (driver-side, cap-bounded); `minPts` is scaled by the
    *     sample fraction so the density threshold keeps its meaning.
    *  2. The sample's CORE points (label, vector) are BROADCAST — at most
    *     sampleCap tiny rows — and every input point attaches to the
    *     cluster of its nearest core within ε, else noise (−1).
    *
    * Cost: O(sampleCap²) on the driver + one broadcast scan of
    * O(n · #cores) native-kernel distances — no pairwise shuffle at ANY n,
    * which is the property that survives 100 TB. Labels are approximate vs
    * full DBSCAN: sampling can miss thin bridges between clusters and
    * clusters sparser than the sample rate (that is the documented
    * DBSCAN++ trade). Input vectors are an array<float|double> column;
    * cluster ids are min-core-id as in the other paths. */
  def sampled(df: DataFrame, idCol: String, vecCol: String,
              eps: Double, minPts: Int, sampleCap: Int = 2000,
              seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    graft.expr.GraftFunctions.ensureRegistered(spark)
    // cache: the input lineage is read four times (count, sample
    // collect, broadcast-attach scan, final id join) — without this an
    // expensive upstream pipeline would recompute each time
    val base = df.select(col(idCol).cast("long").as(idCol), col(vecCol))
      .cache()
    val n = base.count()
    val frac = math.min(1.0, sampleCap.toDouble / math.max(1L, n))
    val samp =
      if (frac >= 1.0) base
      else base.sample(withReplacement = false, frac, seed)
    val rows = samp.collect()
    val ids = rows.map(_.getLong(0))
    val pts = rows.map(graft.expr.VecKernels.cellDoubles(_, 1))
    val scaledMinPts = math.max(1, math.round(minPts * frac).toInt)
    // a core's label is already its component's min core id
    val (labels, core) = localWithCore(ids, pts, eps, scaledMinPts)
    val cores = ids.indices.filter(core(_)).map(i => (labels(i), pts(i).toSeq))
    // identical core VECTORS carry identical labels (distance 0 < eps and
    // both core => same cluster), and templated corpora collapse many
    // cores onto few distinct sentence vectors — dedupe so the attach
    // scan pays one kernel eval per DISTINCT core. Sorted by label: the
    // nn-topk expression breaks distance ties by matrix idx, so idx
    // order == label order reproduces min(struct(dist, label)) exactly.
    val distinctCores = cores.groupBy(_._2).iterator
      .map { case (v, xs) => (xs.iterator.map(_._1).min, v) }
      .toSeq.sortBy(_._1)
    // nearest distinct core per row via the compiled graft_nn_topk kernel
    // against the core matrix literal: scan-local, zero joined-row
    // materialization (the BroadcastNestedLoopJoin form copied n·cores
    // rows just to min them away), no shuffle of the input at all
    val attached =
      if (distinctCores.isEmpty) base.select(col(idCol)).limit(0)
        .withColumn("attach_label", lit(null).cast("long"))
      else {
        val labelsLit = typedlit(distinctCores.map(_._1))
        val matLit = typedlit(distinctCores.map(_._2.toSeq): Seq[Seq[Double]])
        base
          .select(col(idCol), element_at(
            call_function("graft_nn_topk", col(vecCol), matLit, lit(1)), 1)
            .as("nn"))
          .filter(col("nn.dist") < eps)
          .select(col(idCol),
            element_at(labelsLit, col("nn.idx") + 1).as("attach_label"))
      }
    // materialize (lineage truncated, blocks auto-cleaned once the
    // result is unreferenced), then release the input cache
    val out = base.select(col(idCol))
      .join(attached, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("attach_label"), lit(-1L)).as("label"))
      .localCheckpoint(true)
    base.unpersist()
    out
  }

  /** Helper: exact path over a DataFrame, for parity tests and reference-
    * scale runs. Collects (id, vec) to the driver — guarded — and labels
    * them with [[local]], so the labels do not depend on the order the
    * rows arrive in: min core id per cluster, and a border point within ε
    * of cores of two clusters takes the lower label. Ids must be
    * unique. */
  def exactOnFrame(df: DataFrame, idCol: String, vecCol: String,
                   eps: Double, minPts: Int, maxN: Int = 20000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"), col(vecCol)).collect()
    require(rows.length <= maxN,
      s"exact DBSCAN capped at $maxN rows (got ${rows.length}); use distributed()")
    val ids = rows.map(_.getLong(0))
    val pts = rows.map(graft.expr.VecKernels.cellDoubles(_, 1))
    spark.createDataset(ids.zip(local(ids, pts, eps, minPts)).toSeq)
      .toDF(idCol, "label")
  }
}
