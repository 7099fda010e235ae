package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.{Clean, TextStats}

/** Corpus deduplication operators for training-data pipelines: exact,
  * MinHash+LSH banded near-dup, SimHash, and n-gram Jaccard.
  *
  * All signatures are pure column expressions (codegen'd, no UDFs) so the
  * signature pass is a full-speed scan; candidate generation is an
  * explode + groupBy on (band, bucket) — the standard banded-LSH shuffle
  * whose fan-in is bounded by bucket size, never all-pairs.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized-text fingerprint.
    * One shuffle on the 128-bit fingerprint; survivors join back is not
    * needed because min(id) identifies the kept row. */
  def exactDedupKeepers(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // deliberately NOT fanned out: llm_exact_dedup pins an at-most-2-
    // exchange plan (PlanShapeSpec) — the one-hash-exchange contract is the
    // operator's 100-TB story and outranks fixture parallelism
    df.select(TextStats.fingerprintMd5(col(textCol)).as("fingerprint"),
        col(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Winnowing fingerprints (Schleimer et al. SIGMOD'03 — see
    * graft.expr.GraftWinnow): one (doc, fingerprint) row per distinct
    * selected window-min gram hash. Pure codegen'd expression + explode;
    * the fingerprint pass is a full-speed scan. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame =
    // fanOut: the winnow kernel is the scan's whole cost (no-op past one
    // scan split)
    graft.core.Tables.fanOut(df, col(idCol))
      .select(col(idCol).as("doc_id"),
      explode(call_function("graft_winnow",
        col(textCol), lit(k), lit(w))).as("fp"))

  /** Winnow-overlap candidate pairs: documents sharing ≥ `minShared`
    * winnowing fingerprints — the MOSS-style local-overlap detector
    * (robust to reordering and padding, unlike whole-doc hashes; the
    * winnowing guarantee makes any shared run of k+w−1 chars produce a
    * shared fingerprint).
    *
    * Scale shape: self-join keyed on the fingerprint — the same bounded
    * fan-in story as banded LSH, PROVIDED hot fingerprints are dropped:
    * a boilerplate substring shared by f docs would alone contribute
    * f·(f−1)/2 pairs, so fingerprints with document frequency > `maxDf`
    * are excluded first (the standard winnowing-index move; exact-oracle
    * portable because the filter is itself relational). */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4, maxDf: Int = 50,
                         minShared: Int = 3): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    val rare = fps.groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
      .select("fp")
    val keyed = fps.join(rare, "fp")
    keyed.as("a").join(keyed.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental exact dedup — the daily-batch shape: keep only the rows
    * of `fresh` whose normalized-text fingerprint does not already occur
    * in `corpus` AND is the first occurrence (lowest id) within the batch
    * itself. The corpus side reduces to its distinct fingerprint set
    * before the anti-join; when the daily batch is small relative to the
    * corpus, flip the join so the BATCH fingerprints broadcast and the
    * 100-TB corpus is filtered in one scan with no shuffle (this
    * formulation keeps the declarative anti-join and lets AQE pick —
    * both sides are single-column fingerprint projections). */
  def incrementalDedup(fresh: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val seen = corpus
      .select(TextStats.fingerprintMd5(col(textCol)).as("fingerprint"))
      .distinct()
    val newFirst = exactDedupKeepers(fresh, idCol, textCol)
      .select(col("fingerprint"), col("keep_id").as(idCol))
    fresh.join(
        newFirst.join(seen, Seq("fingerprint"), "left_anti")
          .select(idCol),
        Seq(idCol), "left_semi")
  }

  /** [[incrementalDedup]] with a BLOOM PREFILTER — the shape for when the
    * corpus fingerprint set is too large to broadcast (the plain form
    * broadcasts the BATCH side, which already avoids shuffling the
    * corpus; this form additionally avoids the per-batch corpus
    * ANTI-JOIN entirely for the common case). One corpus scan folds the
    * fingerprints into a driver-side bloom sketch (~9.6 bits per item at
    * fpp 0.01 — 13× smaller than the raw 64-bit hashes, ~120 MB per 100M
    * corpus docs; shard the sketch by fingerprint range past that). The
    * batch's first-occurrence rows then split on a codegen'd bloom probe:
    * misses are DEFINITELY new (no false negatives — kept with zero join
    * work), and the fpp-sized candidate remainder is exact-checked with
    * one broadcast semi-join against the corpus scan. Result is
    * EXACT — identical rows to [[incrementalDedup]], same DuckDB oracle —
    * only the plan changes. Scale shape: corpus is scanned (never
    * shuffled, never broadcast), join traffic is fpp × batch.
    *
    * The sketch is rebuilt per call here; a production daily pipeline
    * would persist it and fold each day's accepted fingerprints in
    * (BloomFilter.mergeInPlace) instead of rescanning the corpus. */
  def incrementalDedupBloom(fresh: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            fpp: Double = 0.01): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(fresh.sparkSession)
    val corpusFp = corpus
      .select(xxhash64(TextStats.fingerprintMd5(col(textCol))).as("fp_h"))
    // expectedNumItems from a parquet metadata-only count; stat.bloomFilter
    // is one treeAggregate pass over the single hashed column
    val bloom = corpusFp.stat.bloomFilter("fp_h",
      math.max(corpus.count(), 1L), fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val newFirst = exactDedupKeepers(fresh, idCol, textCol)
      .select(col("fingerprint"), col("keep_id").as(idCol),
        call_function("graft_bloom_contains",
          xxhash64(col("fingerprint")), lit(bloomBytes)).as("maybe_seen"))
    val definiteNew = newFirst.filter(!col("maybe_seen")).select(idCol)
    val candidates = newFirst.filter(col("maybe_seen"))
    // exact check for the fpp-sized remainder: corpus scanned once more,
    // candidate fingerprints broadcast (fpp × batch rows)
    val trulyNew = candidates.join(
        corpus.select(TextStats.fingerprintMd5(col(textCol)).as("fingerprint")),
        Seq("fingerprint"), "left_anti")
      .select(idCol)
    fresh.join(definiteNew.union(trulyNew), Seq(idCol), "left_semi")
  }

  /** Exact dedup execution: the deduplicated corpus itself. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDedupKeepers(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Character-gram shingle hash array at fixed stride (bounded per-row
    * work O(len/stride); stride 1 = every window). */
  def shingleHashes(text: Column, gram: Int = 8, stride: Int = 1): Column = {
    val norm = Clean.normWs(lower(text))
    transform(
      sequence(lit(1), greatest(length(norm) - (gram - 1), lit(1)), lit(stride)),
      i => xxhash64(norm.substr(i, lit(gram))))
  }

  /** k-permutation MinHash signature. One xxhash64 pass builds the shingle
    * hashes; each "permutation" p re-keys them with xxhash64(h, p) and
    * takes the min — the standard one-pass k-minhash construction. */
  def minHashSignature(text: Column, k: Int = 32, gram: Int = 8,
                       stride: Int = 1): Column = {
    val hs = shingleHashes(text, gram, stride)
    transform(sequence(lit(0), lit(k - 1)),
      p => array_min(transform(hs, h => xxhash64(h, p))))
  }

  /** Banded LSH keys from a MinHash signature: one 64-bit bucket hash per
    * band (fold of the band's rows). Two docs collide on a band iff that
    * band of their signatures is identical. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        aggregate(slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand)),
          lit(-7046029254386353131L),
          (acc, x) => xxhash64(acc, x)).as("bucket")))

  /** Edit-distance fuzzy self-join: unordered pairs with Levenshtein
    * distance ≤ maxDist. The recall-exact prefilter is the LENGTH
    * window (|len(a) − len(b)| ≤ maxDist is a NECESSARY condition for
    * distance ≤ maxDist), expressed as [[graft.ops.Relational
    * .rangeJoinPoints]]: one side's length is the point, the other's
    * [len−k, len+k] the interval — so the candidate join is a binned
    * equi-join, never the all-pairs cross product (plan shape shared
    * with j7); the exact bit-parallel `graft_levenshtein` kernel then
    * decides each candidate. Blocking drops NO true pair by
    * construction (pure length arithmetic — unlike q-gram/prefix
    * schemes, which trade recall), so a brute-force twin gates it
    * exactly. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be nonnegative, got $maxDist")
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val a = df.select(col(idCol).as("id_a"), col(textCol).as("t_a"),
      (length(col(textCol)) - maxDist).cast("double").as("lo"),
      (length(col(textCol)) + maxDist).cast("double").as("hi"))
    val b = df.select(col(idCol).as("id_b"), col(textCol).as("t_b"),
      length(col(textCol)).cast("double").as("len_b"))
    graft.ops.Relational.rangeJoinPoints(b, "len_b", a, "lo", "hi",
        binWidth = (2 * maxDist + 1).toDouble)
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        call_function("graft_levenshtein", col("t_a"), col("t_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Candidate near-dup pairs via banded MinHash LSH, verified with exact
    * shingle-set Jaccard ≥ `threshold`. Returns (idA, idB, jaccard) with
    * idA < idB. The candidate join is per-(band,bucket); the verify join
    * re-reads only candidate rows' shingle sets.
    *
    * Each derived value (normalized text, shingle-hash array, signature)
    * is materialized as its own projected column BEFORE the next lambda
    * consumes it: Spark's higher-order functions are interpreted, and an
    * expression nested inside a lambda is re-evaluated per element — with
    * the projection boundary each stage reads a bound attribute instead
    * (one evaluation per row, O(len/stride + k·len/stride) total).
    *
    * `maxBucketSize` caps the per-(band,bucket) candidate fan-in: a hot
    * bucket (e.g. thousands of identical boilerplate docs) would create a
    * quadratic join. Overflowing buckets are dropped from CANDIDATE
    * GENERATION only — their members still pair through their other
    * bands, and truly identical docs belong to exact dedup anyway. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, k: Int = 32, bands: Int = 8,
                   gram: Int = 8, stride: Int = 4,
                   maxBucketSize: Int = 1000): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k ($k) must be a positive multiple of bands ($bands)")
    val rows = k / bands
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    // fanOut: the minhash signature + shingle-hash kernels below are the
    // scan's whole cost (no-op past one scan split); every downstream
    // consumer aggregates exactly (bucket counts, distinct pairs)
    val base = graft.core.Tables.fanOut(df, col(idCol))
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("norm", Clean.normWs(lower(col("text"))))
      // native codegen'd signature (graft.expr.MinHashSig) — the
      // interpreted transform/aggregate formulation profiled 40s+ at
      // sf0.1; the compiled kernel is a single byte pass
      .withColumn("sig", call_function("graft_minhash",
        col("norm"), lit(k), lit(gram), lit(stride)))
      .withColumn("hs", transform(
        sequence(lit(1), greatest(length(col("norm")) - (gram - 1), lit(1)),
          lit(stride)),
        i => xxhash64(col("norm").substr(i, lit(gram)))))
    val keyedRaw = base
      .withColumn("bk", explode(lshBandKeys(col("sig"), bands, rows)))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val okBuckets = keyedRaw.groupBy("band", "bucket")
      .agg(count(lit(1)).as("_bn")).filter(col("_bn") <= maxBucketSize)
      .select("band", "bucket")
    val keyed = keyedRaw.join(okBuckets, Seq("band", "bucket"), "left_semi")
    val cands = keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val sh = base.select(col("id"), array_distinct(col("hs")).as("sh"))
    cands
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup dedup execution: drop every doc that near-matches a
    * lower-id doc (greedy keep-first, the common corpus-dedup policy). */
  def nearDedup(df: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.8): DataFrame = {
    val drop = nearDupPairs(df, idCol, textCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Engine-portable 64-bit token hash: the first 16 hex chars of md5,
    * assembled from two 32-bit `conv` parses so ANSI long arithmetic never
    * overflows (an unsigned 64-bit parse can exceed Long.MaxValue). md5 is
    * the one hash Spark and DuckDB share bit-for-bit — SimHash runs on it
    * (not xxhash64) precisely so its queries carry a SQL oracle; the
    * DuckDB twin parses the same hex chars digit-by-digit. */
  def md5Hash64(t: Column): Column = {
    val hex = md5(t.cast("binary"))
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes, folded to a long. Shift amounts are Scala-level literals (the
    * bit loop is unrolled at plan-build time), so everything stays inside
    * codegen'd built-ins; codegen CSE shares the token-hash array across
    * the 64 votes. */
  def simHash64(text: Column): Column =
    call_function("graft_simhash_md5", lower(text))

  /** Hamming distance between two SimHash values (bit_count of xor). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Frame-level SimHash via the native one-pass kernel
    * (graft.expr.SimHashMd5 — the interpreted 64-fold expression form it
    * replaces is parity-gated in TextKernelsSpec). Adds `outCol` (long). */
  def simHashFrame(df: DataFrame, textCol: String,
                   outCol: String = "simhash"): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    df.withColumn(outCol, simHash64(col(textCol)))
  }

  /** SimHash near-dup pairs: candidates collide on at least one of the
    * C(bands, combine) exact-match keys formed by concatenating `combine`
    * of the `bands` (64/bands)-bit slices of the 64-bit simhash, then get
    * verified by full hamming distance ≤ `maxHamming`. Same banded-join
    * shape as MinHash LSH: per-bucket shuffle, never all-pairs.
    *
    * RECALL CONTRACT (pigeonhole): ≤ maxHamming flipped bits dirty at most
    * maxHamming slices, so `maxHamming ≤ bands - combine` guarantees a
    * fully-clean `combine`-subset of slices that both docs key on —
    * FULL recall. `combine` trades explode fan-out (C(bands,combine) rows
    * per doc — cheap) against bucket width (combine·64/bands key bits):
    * wider keys shatter the hot buckets a clustered corpus produces under
    * single-slice keys, and in-bucket candidate expansion is QUADRATIC, so
    * combine=2 cuts candidate pairs ~3.4× on the synthetic corpus
    * (6.76M → 1.98M, hottest bucket 1460 → 458 docs) at identical recall.
    * This is Manku et al.'s multi-block permutation scheme (WWW'07)
    * expressed as an explode + equi-join. */
  /** Corpus-size-adaptive (bands, combine) for [[simHashNearDup]] at a
    * fixed hamming radius. Each ladder step adds one band AND one
    * combine slice, so `bands − combine` — and with it the pigeonhole
    * full-recall guarantee `maxHamming ≤ bands − combine` — is
    * PRESERVED while the bucket keys widen: for maxHamming = 6 the key
    * grows 16 → 21 → 24 bits (combine·⌊64/bands⌋) and the per-doc
    * explode fan-out stays modest (C(bands,combine) = 28 → 84 → 210).
    * Slices are ⌊64/bands⌋ bits, so off-ladder band counts leave high
    * bits uncovered — harmless for recall (an uncovered flipped bit
    * dirties NO slice).
    *
    * WHEN TO USE (r14 measurement, PLANS.md calibration `simhashq`
    * hit decomposition): wider keys prune RANDOM key-space collisions, not
    * near-threshold pairs that share whole slices. On the
    * duplication-heavy sf1 corpus (9,3) cut false candidate hits only
    * 22% while tripling explode fan-out — a net wall-time LOSS — so the
    * registered query keeps (8,2) and the 100 TB levers for clustered
    * corpora remain `maxBucketSize` + sharding. Reach for the ladder
    * when candidates are dominated by random collisions (high-entropy
    * hash populations at very large n) — the pair set is
    * keying-invariant either way (DedupSpec gates (8,2)==(9,3)==(10,4)
    * == brute force). */
  def simHashBandsFor(n: Long, maxHamming: Int = 6): (Int, Int) = {
    val step = if (n <= 10000L) 0 else if (n <= 1000000L) 1 else 2
    (maxHamming + 2 + step, 2 + step)
  }

  /** The banded keying of [[simHashNearDup]]: each row of `hashed`
    * (id, simhash) explodes into one (band, bucket) key per
    * `combine`-subset of the ⌊64/bands⌋-bit slices. */
  private def simHashKeyed(hashed: DataFrame, bands: Int, combine: Int)
      : DataFrame = {
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    def slice(b: Int): Column =
      shiftright(col("simhash"), b * bits).bitwiseAND(mask)
    val combos = (0 until bands).combinations(combine).toSeq
    hashed.select(col("id"), col("simhash"),
        explode(array(combos.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("band"),
            c.map(slice).reduce((hi, lo) =>
              shiftleft(hi, bits).bitwiseOR(lo)).as("bucket"))
        }: _*)).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, bands: Int = 8,
                     combine: Int = 1,
                     materialize: Boolean = true,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // bands need not divide 64: slices are ⌊64/bands⌋ bits from offset
    // b·bits, leaving ≤ bands−1 high bits unkeyed — recall is unharmed
    // (an unkeyed flipped bit dirties no slice), and the non-dividing
    // counts are what the adaptive ladder (simHashBandsFor) widens into
    require(bands > 0 && 64 / bands >= 1)
    require(combine >= 1 && combine <= bands)
    require(maxHamming <= bands - combine,
      s"maxHamming ($maxHamming) must be <= bands - combine " +
        s"(${bands - combine}): banded exact-match only guarantees candidate " +
        "collision when a fully-clean combine-subset of slices exists")
    require(maxBucketSize > 0)
    // the simhash (64 bit-vote folds) feeds BOTH sides of the self-join;
    // materialize once instead of recomputing. The checkpointed frame is
    // 16 B/doc (id + hash), NOT the corpus — at 100 TB / ~100 B docs
    // that's ~16 TB of executor storage, so `materialize = false`
    // recomputes the one-scan kernel per side instead. Measured at ×100
    // (500k docs, PLANS.md calibration `simhash`): checkpoint 5.4 s vs
    // recompute 7.0 s
    // warm — the checkpoint wins ~25% while the hash frame fits storage;
    // recompute trades that for zero storage; both forms stay linear.
    // fanOut: the 64-vote simhash kernel is the scan's whole cost and
    // runs single-task on an unsplittable input (no-op past one split)
    val hashedBase = simHashFrame(
      graft.core.Tables.fanOut(df, col(idCol))
        .select(col(idCol).as("id"), col(textCol).as("text")), "text")
      .select("id", "simhash")
    val hashed =
      if (materialize) hashedBase.localCheckpoint(true) else hashedBase
    val keyedRaw = simHashKeyed(hashed, bands, combine)
    // hot-bucket cap, same contract as nearDupPairs: the 16-bit key space per
    // combo is FIXED, so once n outgrows it in-bucket candidates go quadratic
    // (PLANS.md calibration `simhashq`: 23x candidates for 10x docs).
    // Overflowing buckets drop from CANDIDATE GENERATION only — members still
    // pair through their other C(bands,combine)-1 keys, so recall degrades
    // gracefully instead of the join degenerating. Default uncapped: the
    // oracled query keeps exact full-recall semantics; the 100 TB path sets a
    // cap.
    val keyed =
      if (maxBucketSize == Int.MaxValue) keyedRaw
      else keyedRaw.join(
        keyedRaw.groupBy("band", "bucket")
          .agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") <= maxBucketSize)
          .select("band", "bucket"),
        Seq("band", "bucket"))
    keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDist(col("a.simhash"), col("b.simhash")).as("hamming"))
      // verify BEFORE dedup: the xor-popcount filter is codegen'd and
      // kills most candidates, so the distinct digests survivors only
      // (near pairs collide in many of the `bands` buckets — the raw
      // candidate stream is ~bands× the distinct pair count)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Distinct char-gram shingle-hash set of an ALREADY-normalized column
    * (pass an attribute, not a nested expression — see nearDupPairs). */
  def shingleSet(norm: Column, gram: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(norm) - (gram - 1), lit(1))),
      i => xxhash64(norm.substr(i, lit(gram)))))

  /** n-gram Jaccard similarity between two pre-computed shingle sets:
    * |A ∩ B| / |A ∪ B|. */
  def jaccardOfSets(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(sa) + size(sb) - inter
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** n-gram Jaccard similarity between two text columns (exact, pairwise):
    * |A ∩ B| / |A ∪ B| over distinct char-gram shingle hashes — the
    * native one-pass kernel (graft.expr.NgramJaccard), value-identical
    * to `jaccardOfSets(shingleSet(a), shingleSet(b))` (spec-gated).
    * Requires an engine session (GraftExtensions / ensureRegistered). */
  /** Exact repeated-substring stripping (the char-window form of Lee et
    * al. 2022, arXiv:2107.06499 ExactSubstr): any character covered by a
    * length-`win` window whose text occurs at least `minCount` times
    * corpus-wide (within-doc repeats count) is removed — from EVERY
    * occurrence, the "drop all copies" variant the paper discusses as
    * the simpler exact policy. Returns one row per input doc:
    * (doc_id, text_kept, n_removed).
    *
    * Plan: phase 1 slides every window once and counts occurrences keyed
    * on `xxhash64(window)` — 8 bytes per window instead of `win` chars;
    * a hash collision can only create a false duplicate (P ≈ windows²/2⁶⁴
    * — negligible; the DuckDB twin counts the strings themselves). Phase
    * 2 joins window positions to the duplicated-hash set (AQE broadcasts
    * it when small), collects each doc's duplicated starts, and rebuilds
    * the kept text in ONE linear fold per doc: the sorted starts merge
    * into covered intervals and cut the text between them — O(starts +
    * chars), no per-character work.
    *
    * Scale notes: the window count is the operator's honest cost — one
    * shuffle of ~n_chars 8-byte keys (what the paper's suffix array
    * replaces on a single node); partial aggregation collapses within-
    * partition repeats. Docs shorter than `win` never enter the shuffle
    * and keep their text untouched. */
  def repeatedSpanStrip(df: DataFrame, idCol: String, textCol: String,
                        win: Int = 40, minCount: Int = 2): DataFrame = {
    require(win >= 1, s"window must be positive, got $win")
    require(minCount >= 2, s"minCount below 2 strips everything: $minCount")
    // fanOut: the per-position window-hash explode below is the scan's
    // whole cost (no-op past one scan split); groupBy(doc_id) reuses the
    // keyed exchange and sort_array makes collect_list order-free
    val base = graft.core.Tables.fanOut(df, col(idCol))
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val wins = base.filter(length(col("text")) >= win)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (win - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("text").substr(col("pos"), lit(win))).as("h"))
    val dupHashes = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select("h")
    val dupStarts = wins.join(dupHashes, Seq("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    base.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), length(col("text")).as("n_orig"),
        aggregate(
          coalesce(col("starts"), typedLit(Array.empty[Int])),
          struct(lit(1).as("prev"), lit("").as("acc")),
          (s, p) => struct(
            greatest(s.getField("prev"), p + win).as("prev"),
            concat(s.getField("acc"),
              when(p > s.getField("prev"),
                col("text").substr(s.getField("prev"), p - s.getField("prev")))
                .otherwise(lit(""))).as("acc")),
          s => concat(s.getField("acc"),
            col("text").substr(s.getField("prev"),
              length(col("text")) - s.getField("prev") + 1)))
          .as("text_kept"))
      .select(col("doc_id"), col("text_kept"),
        (col("n_orig") - length(col("text_kept"))).cast("long").as("n_removed"))
  }

  def ngramJaccard(a: Column, b: Column, gram: Int = 3): Column =
    call_function("graft_ngram_jaccard",
      Clean.normWs(lower(a)), Clean.normWs(lower(b)), lit(gram))
}
