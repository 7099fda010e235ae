package graft.dedup

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.{Clean, Repetition}

/** Corpus-curation operators a pretraining pipeline runs after dedup:
  * benchmark decontamination, duplicate-group resolution, and
  * deterministic train/val/test splitting.
  *
  * Everything here is deterministic (no RNG, no approximate sketches) so
  * each operator carries an exact DuckDB oracle. */
object Curation {

  /** Max distinct eval grams [[decontaminateScan]] will embed as a plan
    * literal before falling back to the join form: 4M hashes = 32 MB of
    * plan — at the broadcast-table scale Spark itself defaults to, and
    * well past any real benchmark suite (MMLU+HellaSwag+BBH-class eval
    * sets are ~10⁵–10⁶ grams). */
  val EvalGramCap: Int = 4 << 20

  /** Benchmark decontamination (GPT-3 appendix C / PaLM style): a train
    * document is contaminated when it shares at least one word n-gram
    * with any document in the evaluation/benchmark set. Returns one row
    * per input doc: (doc_id, n_shared = distinct shared grams,
    * contaminated).
    *
    * Scale shape: the eval side is tiny by construction (benchmarks are
    * thousands of docs, the corpus is billions), so its distinct-gram set
    * is broadcast and the train side never shuffles — gram explode +
    * broadcast semi-ish join + per-doc count, all linear in corpus size.
    * The join key is `xxhash64(gram)`, not the 8-token string: an 8-byte
    * hash instead of a ~50-byte string shrinks the broadcast table and
    * every exploded train row ~5-10×, and a 64-bit collision flipping a
    * doc's verdict is negligible (P ≈ grams²/2⁶⁴; re-verify on strings if
    * a flagged doc matters). */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    // distinct on the STRING grams per doc first (array_distinct), then
    // hash: a collision can only create a false cross-set match, never
    // merge a doc's own distinct grams before the count
    def grams(df: DataFrame): DataFrame = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(Repetition.wordNgrams(
          Clean.splitWs(lower(col(textCol))), n))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram_h"))
    val evalGrams = grams(evalDocs).select("gram_h").distinct()
    // fanOut keyed on doc_id: on an unsplittable input the train-side
    // gram explode + broadcast probe would run single-task; the keyed
    // exchange is reused by groupBy(doc_id), and per-doc counts are
    // order-independent — identical results
    val hits = grams(graft.core.Tables.fanOut(docs, col(idCol)))
      .join(broadcast(evalGrams), Seq("gram_h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // grams are pre-distinct per doc
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[decontaminate]] without the train-side gram EXPLODE — the 100-TB
    * form. The explode materializes ~one row per train token (at 100 TB,
    * tens of trillions of rows into the broadcast join); this variant
    * broadcasts the eval gram hashes as ONE sorted long array and slides
    * the n-gram window per document inside a scan-side kernel — the train
    * side is a pure one-pass projection (no explode, no join, no shuffle
    * except the caller's output ordering). Identical semantics: grams are
    * string-deduped per doc before hashing (XxHash64, seed 42 — the same
    * `xxhash64(gram)` bytes the join form keys on), so both forms count
    * the same distinct shared grams and carry the same DuckDB oracle.
    *
    * Driver/broadcast boundary: the eval side is collected (8 bytes per
    * distinct eval gram — the same order of memory the join form already
    * broadcast as a table); binary search per train gram makes the
    * per-doc cost O(tokens · log evalGrams).
    *
    * Size contract (r14 VERDICT #7): the collected hash set rides the
    * PLAN as a foldable literal, so its size is a driver/serialization
    * budget, not just heap — the distinct gram count is probed first
    * (one aggregate over the tiny eval side) and an eval set past
    * `maxEvalGrams` (default [[EvalGramCap]], 4M grams = 32 MB literal)
    * falls back to the broadcast-join form [[decontaminate]], which has
    * the identical result contract and no plan-literal ceiling. The probe
    * is limit-bounded (never counts past cap+1), so an enormous eval set
    * costs one early-stopped scan, not a full distinct count. */
  def decontaminateScan(docs: DataFrame, evalDocs: DataFrame, idCol: String,
                        textCol: String, n: Int = 8,
                        maxEvalGrams: Int = EvalGramCap): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(docs.sparkSession)
    val evalGramsDf = evalDocs
      .select(explode(array_distinct(Repetition.wordNgrams(
        Clean.splitWs(lower(col(textCol))), n))).as("gram"))
      .select(xxhash64(col("gram")).as("gram_h")).distinct()
    require(maxEvalGrams > 0, s"maxEvalGrams must be positive: $maxEvalGrams")
    val probeLimit = math.min(maxEvalGrams.toLong + 1, Int.MaxValue).toInt
    if (evalGramsDf.limit(probeLimit).count() > maxEvalGrams)
      return decontaminate(docs, evalDocs, idCol, textCol, n)
    val evalHashes: Array[Long] =
      evalGramsDf.collect().map(_.getLong(0)).sorted
    // the sliding-window kernel is the codegen'd native graft_gram_hits
    // (it was a ScalaUDF closure until r8 — the per-row Catalyst
    // array→Seq conversion was the scan's hottest non-kernel cost); the
    // sorted hash set rides the plan as a foldable literal.
    // fanOut: pure projection — single-task on an unsplittable input
    // otherwise (no-op for streaming callers and at scale)
    graft.core.Tables.fanOut(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        call_function("graft_gram_hits",
          Clean.splitWs(lower(col(textCol))),
          typedlit(evalHashes), lit(n)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** Contamination REPORT — the inverse direction of [[decontaminate]]:
    * per EVAL document, how badly did it leak into the training corpus
    * (n_train_docs sharing ≥1 word n-gram, n_leaked_grams of its distinct
    * grams found anywhere in train). The question a benchmark owner asks
    * after decontamination flags hits.
    *
    * Scale shape — two phases, same exact answer as the naive gram join:
    * clean train docs contribute NOTHING to the report, so phase 1 flags
    * contaminated docs with the explode-free [[decontaminateScan]] (one
    * kernel pass over the corpus), and phase 2 runs the gram-level
    * attribution join ONLY over that flagged subset (contamination is
    * rare by construction — the explode that is a corpus-scale killer on
    * ALL of train is negligible on the hits). Eval grams broadcast both
    * phases; train is never shuffled. */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    val hits = decontaminateScan(docs, evalDocs, idCol, textCol, n)
      .filter(col("contaminated")).select("doc_id")
    val flagged = docs.select(col(idCol).as("doc_id"), col(textCol))
      .join(hits, Seq("doc_id"), "left_semi")
    def grams(df: DataFrame, id: String) = df.select(col(id),
        explode(array_distinct(Repetition.wordNgrams(
          Clean.splitWs(lower(col(textCol))), n))).as("gram"))
      .select(col(id), xxhash64(col("gram")).as("gram_h"))
    val evalGrams = grams(
      evalDocs.select(col(idCol).as("eval_id"), col(textCol)), "eval_id")
      .distinct()
    val matches = grams(
        graft.core.Tables.fanOut(flagged, col("doc_id")), "doc_id")
      .join(broadcast(evalGrams), Seq("gram_h"))
    val agg = matches.groupBy("eval_id").agg(
      countDistinct(col("doc_id")).as("n_train_docs"),
      countDistinct(col("gram_h")).as("n_leaked_grams"))
    evalDocs.select(col(idCol).as("eval_id"))
      .join(agg, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"))
  }

  /** Duplicate-group resolution: given near-dup pairs (id_a, id_b), every
    * document gets the id of its duplicate CLUSTER (connected component,
    * labeled by the component's min doc id — so keep_id = group_id keeps
    * exactly one doc per group) and the group size. Docs in no pair are
    * their own singleton group. Pair ids should come from `allIds` (every
    * caller builds pairs as a self-join of the same id set); an id that
    * does not still joins its endpoints' component, but gets no row and
    * is not counted in `group_size`, on both CC routes.
    *
    * Pairs come from any candidate generator — exact Jaccard at test
    * scale, [[Dedup.nearDupPairs]] (banded LSH) at corpus scale.
    *
    * CC route (r20, the Dbscan.distributed small-regime move): a pair
    * relation that fits under `smallGraphEdgeCap` — proved by a
    * limit(cap+1) probe BEFORE any unbounded collect — is labeled by a
    * driver union-find (union by MIN root = GraphX
    * connectedComponents' min-vertex labeling exactly; the r16 DBSCAN
    * route-equality gate pinned the identical claim on a 200k-vertex/
    * 1.8M-edge relation) and returns via one broadcast join onto the
    * id set; the paired-id label table is ≤2·cap entries of driver
    * state no matter how large `allIds` is, because singletons never
    * enter it — they coalesce to their own id in-plan. Past the cap,
    * GraphX Pregel (O(log n) supersteps) engages unchanged. The
    * measured motivation is the same as DBSCAN's: at reference scale
    * the RDD conversion + Pregel supersteps are 6+ tiny Spark jobs
    * whose scheduling overhead IS the operator's cost. */
  def dupGroups(allIds: DataFrame, pairs: DataFrame, idCol: String,
                smallGraphEdgeCap: Int = 200000): DataFrame = {
    val spark = allIds.sparkSession
    import spark.implicits._
    // persisted across probe + (past-cap) CC build so the pair
    // generator never runs twice — the Dbscan.distributed pattern;
    // released in both branches (connectedComponents is EAGER: Pregel
    // materializes its own graph cache before returning)
    val edgePairs = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeSample =
      edgePairs.as[(Long, Long)].limit(smallGraphEdgeCap + 1).collect()
    val docIds = allIds.select(col(idCol).cast("long").as("doc_id"))
    val cc =
      if (edgeSample.length <= smallGraphEdgeCap) {
        edgePairs.unpersist(blocking = false)
        val (ids, as, bs) = graft.core.MinRootUnionFind.index(edgeSample)
        val uf = new graft.core.MinRootUnionFind(ids.length)
        as.indices.foreach(e => uf.union(as(e), bs(e)))
        val labelDf = spark.createDataset(ids.indices.map(i =>
          (ids(i), ids(uf.find(i))))).toDF("doc_id", "_gx_gid")
        docIds.join(broadcast(labelDf), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_gx_gid"), col("doc_id")).as("group_id"))
      } else {
        val edgeRdd =
          edgePairs.as[(Long, Long)].rdd.map { case (a, b) => Edge(a, b, ()) }
        val vertRdd = docIds.as[Long].rdd.map(id => (id, ()))
        // an endpoint outside allIds is a vertex too and may label its
        // component, but only allIds' rows are output (the driver rule)
        val r = Graph(vertRdd, edgeRdd).connectedComponents()
          .vertices.toDF("doc_id", "group_id") // group_id = min component id
          .join(docIds, Seq("doc_id"), "left_semi")
        edgePairs.unpersist(blocking = false)
        r
      }
    val sizes = cc.groupBy("group_id").agg(count(lit(1)).as("group_size"))
    cc.join(sizes, "group_id")
      .select(col("doc_id"), col("group_id"), col("group_size"),
        (col("doc_id") === col("group_id")).as("is_keeper"))
  }

  /** Deterministic content-stable split bucket in [0, buckets): the first
    * 16 bits of md5(key) parsed as an integer, mod buckets. md5 of the
    * decimal string form is engine-portable (identical in Spark and
    * DuckDB), unlike xxhash64/murmur — this is the one hash both the
    * engine and the oracle share, and 16 bits is plenty for percent-level
    * split resolution. Pure per-row expression: scan speed, no shuffle,
    * and the assignment is stable under corpus growth (a doc's split
    * never changes when other docs are added — the property random
    * splits lack). */
  def md5Bucket(key: Column, buckets: Int): Column =
    (conv(substring(md5(key.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") % buckets).cast("int")

  /** Token-budget shard packing: assign documents, in deterministic
    * doc-id order, to fixed token-budget shards — the sequence-packing
    * pass that turns a curated corpus into training shards. A document is
    * never split: it lands in the shard where its running token total
    * starts (shard_id = exclusive-prefix-sum / budget).
    *
    * Scale shape: a naive global window (`sum over (order by id)`) plans
    * as a SINGLE partition — a non-starter at corpus scale. This is the
    * classic two-pass distributed prefix sum instead: range-partition by
    * id + local sort, pass 1 reduces each partition to ONE subtotal row
    * (collected — P rows, not n), pass 2 streams each partition once with
    * its broadcast base offset. Per-partition imperative accumulation is
    * the rare case where RDD mapPartitions is the right tool.
    *
    * Determinism contract: pass-1 offsets are only valid against the EXACT
    * partitioning pass 2 reads, so the range partitioning is (a) pinned to
    * an explicit partition count (a column-only `repartitionByRange` lets
    * the planner — and AQE — pick, independently per action) and (b)
    * materialized ONCE via an eager `localCheckpoint`: both passes then
    * read the same checkpointed partitions instead of re-running the range
    * sampler per job. On a real cluster the checkpoint blocks live on
    * executors (lost-executor recompute is the documented localCheckpoint
    * tradeoff; persist(DISK) is the belt-and-braces variant) and are
    * released by the ContextCleaner once the result frame is unreferenced. */
  def tokenPack(df: DataFrame, idCol: String, tokensCol: String,
                budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget > 0)
    prefixSummed(df, idCol, tokensCol, numPartitions)
      // integer `div`, not `/`+cast: `/` widens to double (untrustworthy
      // past 2^53 total tokens)
      .withColumn("shard_id", expr(s"token_start div $budget"))
  }

  /** The shared two-pass prefix-sum core of [[tokenPack]] / [[seqPack]]:
    * (doc_id, n_tokens) in doc-id order → (doc_id, n_tokens,
    * token_start) with token_start = exclusive prefix sum. See the
    * [[tokenPack]] scaladoc for the partition-pinning determinism
    * contract. */
  private[graft] def prefixSummed(df: DataFrame, idCol: String,
                                  tokensCol: String,
                                  numPartitions: Int = 0,
                                  md5Order: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // stream order: doc-id (packing), or the content-stable md5 with a
    // doc-id tie-break (corpusShuffle's training-order permutation)
    val base = df.select(col(idCol).cast("long").as("doc_id"),
      col(tokensCol).cast("long").as("n_tokens"))
    val keyed =
      if (md5Order) base.withColumn("_h",
        md5(col("doc_id").cast("string").cast("binary")))
      else base
    val ordCols =
      if (md5Order) Seq(col("_h"), col("doc_id")) else Seq(col("doc_id"))
    val data = keyed
      .repartitionByRange(parts, ordCols: _*)
      .sortWithinPartitions(ordCols: _*)
      .localCheckpoint(true) // pin partitions: both passes read these blocks
    val subtotals = data.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += _.getLong(1)); Iterator((i, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = subtotals.scanLeft(0L)(_ + _).dropRight(1)
    val bc = spark.sparkContext.broadcast(offsets)
    import spark.implicits._
    // tuple RDD + toDF (not createDataFrame(Row)) so the plan keeps the
    // "mapPartitionsWithIndex at Curation.scala" callsite PlanShapeSpec pins
    data.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var cum = bc.value(i)
        it.map { r =>
          val nt = r.getLong(1)
          val start = cum; cum += nt
          (r.getLong(0), nt, start)
        }
      }
      .toDF("doc_id", "n_tokens", "token_start")
  }

  /** Deterministic global training-order shuffle: every document gets a
    * dense position 0..n−1 in content-stable md5 order — the corpus
    * permutation a loader consumes (same doc set ⇒ same order, on every
    * run and engine; pseudo-random with respect to any natural key).
    *
    * Scale shape: positions are a GLOBAL running count, which is the
    * same problem tokenPack solves — a naive `row_number() over (order
    * by h)` plans ONE partition. Here: range-repartition on the md5 key
    * (the shuffle), sort within partitions, pin the partitioning, then
    * the two-pass count: per-partition sizes to the driver (P longs),
    * offsets broadcast back, one linear index pass. No global Window,
    * no single-partition stage, O(P) driver state. */
  def corpusShuffle(df: DataFrame, idCol: String,
                    numPartitions: Int = 0): DataFrame =
    // positions ARE an exclusive prefix sum of 1s in md5 order — one
    // pinned two-pass core ([[prefixSummed]]) owns the determinism
    // contract for packing AND shuffling
    prefixSummed(df.select(col(idCol)).withColumn("_one", lit(1L)),
        idCol, "_one", numPartitions, md5Order = true)
      .select(col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"),
        col("token_start").as("shuffle_pos"))

  /** Concat-and-chunk sequence packing — the step BELOW [[tokenPack]]'s
    * shard granularity: the curated corpus is one virtual token stream
    * (documents concatenated in doc-id order) cut into fixed `seqLen`
    * training windows, and each document is mapped to every window it
    * overlaps. This is the T5/GPT-style "pack then chunk" loader shape;
    * the output is the (sequence → document segment) boundary map a
    * trainer needs for attention masking and provenance:
    * (seq_id, doc_id, doc_off, seq_off, n_toks) — doc_off = offset of
    * the segment inside the document, seq_off = offset inside the
    * window.
    *
    * Scale shape: the prefix sum is the two-pass distributed form
    * ([[prefixSummed]] — no global Window); the window fan-out is a
    * bounded explode (a document spans ≤ n_tokens/seqLen + 1 windows),
    * so the whole operator is two narrow passes + one bounded Generate.
    * Zero-token documents are dropped (they occupy no stream position).
    *
    * Invariants (spec-gated): segment lengths per document sum to the
    * document's token count; every window except the last carries
    * exactly `seqLen` tokens with gap-free contiguous segments. */
  def seqPack(df: DataFrame, idCol: String, tokensCol: String,
              seqLen: Long, numPartitions: Int = 0): DataFrame = {
    require(seqLen > 0)
    prefixSummed(df, idCol, tokensCol, numPartitions)
      .filter(col("n_tokens") > 0)
      .withColumn("seq_id", explode(sequence(
        expr(s"token_start div $seqLen"),
        expr(s"(token_start + n_tokens - 1) div $seqLen"))))
      .withColumn("seg_start",
        greatest(col("token_start"), col("seq_id") * seqLen))
      .withColumn("seg_end",
        least(col("token_start") + col("n_tokens"),
          (col("seq_id") + 1) * seqLen))
      .select(col("seq_id"), col("doc_id"),
        (col("seg_start") - col("token_start")).as("doc_off"),
        (col("seg_start") - col("seq_id") * seqLen).as("seq_off"),
        (col("seg_end") - col("seg_start")).as("n_toks"))
  }

  /** Deterministic domain-mix resampling — the static-reweighting step of
    * mixture-tuned pretraining corpora (give each source a target weight;
    * keep the LARGEST corpus honoring the mix without oversampling any
    * source): scale = min_s(count_s / w_s), keep fraction_s = w_s · scale
    * / count_s of each source. Selection is the content-stable 16-bit md5
    * uniform (u < fraction_s) — the [[md5Bucket]] portability argument, so
    * the DuckDB twin is EXACT, and membership is stable under corpus
    * growth (adding docs to one source never flips another doc's keep
    * bit; fractions do shift with counts, as any quota must). Sources
    * absent from `weights` are dropped. Cost: one count aggregation +
    * one scan-speed filter — no shuffle of the kept rows. */
  def resampleToMix(df: DataFrame, idCol: String, sourceCol: String,
                    weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0) &&
      weights.values.sum > 0, "weights must be non-negative, not all zero")
    val total = weights.values.sum
    val norm = weights.map { case (k, v) => k -> v / total }
    val counts = df.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(sourceCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scaleCandidates = norm.collect {
      case (s, p) if p > 0 && counts.getOrElse(s, 0L) > 0 => counts(s) / p
    }
    // no positively-weighted source has any rows (empty frame or disjoint
    // source names): the mix is trivially satisfied by the empty corpus —
    // return it rather than throwing a bare `empty.min`
    if (scaleCandidates.isEmpty) return df.limit(0)
    val scale = scaleCandidates.min
    val fracs = norm.map { case (s, p) =>
      s -> math.min(1.0, p * scale / math.max(counts.getOrElse(s, 0L), 1L))
    }
    val u = conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 4), 16, 10).cast("double") / 65536.0
    val fracCol = fracs.foldLeft(lit(0.0)) { case (acc, (s, f)) =>
      when(col(sourceCol) === s, lit(f)).otherwise(acc)
    }
    df.filter(u < fracCol)
  }

  /** UniMax budget allocation (Chung et al. 2023, epoch cap 1): split a
    * total document budget as evenly as possible across sources, capping
    * each source at its actual size and re-distributing the slack to the
    * larger sources. Processes sources ascending by (size, name); each
    * takes `min(size, ⌊remaining/sourcesLeft⌋)`. Deterministic, integer-
    * exact, and order-canonical — the SQL twin reproduces it closed-form
    * (the capped set is the prefix where `n·left + cumPrev ≤ budget`,
    * monotone because `(c_{i+1}−c_i)(k−i) ≥ 0`; the uncapped suffix gets
    * ⌊B'/m⌋ each with the `B' mod m` remainder going to the LAST m−r).
    *
    * Driver-side by design: the input is one row per SOURCE (a corpus has
    * tens to thousands), never per document. */
  def unimaxQuotas(counts: Seq[(String, Long)], budget: Long)
      : Seq[(String, Long, Long)] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(counts.forall(_._2 >= 0), "source counts must be >= 0")
    var remaining = budget
    var left = counts.size
    counts.sortBy { case (s, n) => (n, s) }.map { case (s, n) =>
      val q = math.min(n, remaining / left)
      remaining -= q
      left -= 1
      (s, n, q)
    }
  }

  /** UniMax quota table as a DataFrame: (source, n_docs, quota). The
    * per-source count aggregation is distributed (map-side partial on a
    * low-cardinality key); only the tiny count table is collected for the
    * sequential waterfill. */
  private def unimaxQuotaSeq(df: DataFrame, sourceCol: String, budget: Long)
      : Seq[(String, Long, Long)] = {
    val rows = df.groupBy(sourceCol).agg(count(lit(1)).as("n")).collect()
    // a NULL source would flow into the String sort as null and NPE mid-
    // waterfill; fail fast with the contract instead (the SQL twin would
    // silently group the NULLs, diverging from us either way)
    require(rows.forall(!_.isNullAt(0)),
      s"unimax: NULL $sourceCol values present — source labels must be non-null")
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toSeq
    require(counts.size <= 100000,
      s"unimax: ${counts.size} sources — quota table is driver-side small by contract")
    unimaxQuotas(counts, budget)
  }

  def unimaxQuotasDf(df: DataFrame, sourceCol: String, budget: Long)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    unimaxQuotaSeq(df, sourceCol, budget).toDF(sourceCol, "n_docs", "quota")
  }

  /** UniMax-budgeted corpus selection: `quota(source)` documents per
    * source, chosen by the content-stable md5 priority (pseudo-random but
    * deterministic — the same doc set on every run and engine).
    *
    * Scale shape: count-agg → driver waterfill over sources → ONE
    * TopKPerGroup pass capping every group to the LARGEST quota with a
    * k-bounded heap (no full per-group sort, one hash exchange on
    * source), then a rank-vs-quota trim over the ≤ maxQuota survivors
    * per group — the trim's window sorts at most maxQuota rows per group
    * and reuses the heap pass's clustering, so no second shuffle of the
    * corpus ever happens. */
  def unimaxSample(df: DataFrame, idCol: String, sourceCol: String,
                   budget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the quota table was just computed ON the driver — its max is a
    // local Seq fold, not another Spark job
    val quotaSeq = unimaxQuotaSeq(df.select(sourceCol), sourceCol, budget)
    val maxQ = quotaSeq.map(_._3).maxOption.getOrElse(0L)
    require(maxQ <= Int.MaxValue,
      s"unimax: per-source quota $maxQ exceeds the heap operator's Int cap")
    val quotas = quotaSeq.toDF(sourceCol, "n_docs", "quota")
    val withH = df.select(col(sourceCol), col(idCol),
      md5(col(idCol).cast("string").cast("binary")).as("h"))
    if (maxQ <= 0) return withH.limit(0)
    val capped = graft.plans.TopKPerGroup(withH, Seq(sourceCol),
      Seq("h" -> true, idCol -> true), maxQ.toInt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col("h"), col(idCol))
    capped.withColumn("rn", row_number().over(w))
      .join(broadcast(quotas.select(col(sourceCol), col("quota"))),
        Seq(sourceCol))
      .filter(col("rn") <= col("quota"))
      .select(sourceCol, idCol, "h")
  }

  /** Percentile-threshold filter — the "keep the top (1−pct) of the
    * corpus by score" curation step (quality floor, perplexity ceiling):
    * the threshold is the EXACT pct-quantile of `scoreCol`, computed with
    * the bounded-memory distributed [[graft.ops.DistQuantile]] (iterated
    * histogram refinement — never a single-task column materialization),
    * then applied as a scan-speed filter. A global statistic feeding a
    * pure filter is the 100-TB shape: ~5 pruned single-column passes for
    * the threshold + one filter scan, no shuffle of kept rows.
    *
    * Determinism contract: both the threshold and the compared score are
    * 1e-6-quantized (the DistQuantile/`quantile_cont` shared grid), so
    * the kept set is engine-portable — the DuckDB twin computes
    * `round(quantile_cont(score, pct), 6)` and compares the same
    * quantized score. Ties AT the threshold are kept: "at least the top
    * (1−pct) fraction", the only exact definition a value threshold can
    * give under duplicates.
    *
    * PERSIST THE SCORED FRAME when `scoreCol` is computed (not stored):
    * the threshold passes each re-execute the score's lineage (~5 pruned
    * scans), so an expensive kernel upstream is paid ~6×. Measured at
    * ×100 local: 12.8 s recomputing a kernel score vs 1.7 s with the
    * score persisted (PLANS.md calibration `pctl`). */
  def percentileFilter(df: DataFrame, scoreCol: String, pct: Double,
                       keepUpper: Boolean = true): DataFrame = {
    require(pct > 0 && pct < 1, s"pct must be in (0,1), got $pct")
    val thr = graft.ops.DistQuantile
      .quantiles(df.sparkSession, df, scoreCol, Seq(pct -> "p"))
      .head().getDouble(0) // already 1e-6-quantized
    val q = round(col(scoreCol).cast("double"), 6)
    df.filter(if (keepUpper) q >= thr else q <= thr)
  }

  /** Train/val/test assignment from the md5 bucket: bucket < trainPct →
    * train, < trainPct+valPct → val, else test. */
  def hashSplit(df: DataFrame, idCol: String,
                trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val b = md5Bucket(col(idCol), 100)
    df.withColumn("bucket", b)
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  // ---- DSIR: data selection via importance resampling -----------------

  /** Per-bucket gram counts of one corpus, as a dense driver-side array
    * (`buckets` longs). The explode feeds a partial-aggregating groupBy
    * whose result set is at most `buckets` rows, so the shuffle carries
    * ≤ buckets rows per map partition regardless of corpus size. */
  private def dsirBucketCounts(df: DataFrame, textCol: String,
                               buckets: Int): Array[Long] = {
    graft.expr.GraftFunctions.ensureRegistered(df.sparkSession)
    val out = new Array[Long](buckets)
    // r9: bucket ids come from the native graft_dsir_buckets kernel (one
    // codegen pass; the interpreted wordNgrams/md5/conv chain per gram
    // was the fit's cost), exploded as ints into a <=buckets-row groupBy
    df.select(explode(call_function("graft_dsir_buckets", col(textCol),
        lit(buckets))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
      .collect().foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  /** Per-bucket log importance ratio ln p_target(b) − ln p_raw(b) under
    * add-`alpha`-smoothed bag-of-hashed-gram unigram models — the DSIR
    * feature-space density ratio. Driver state is 2·`buckets` longs. */
  def dsirLogRatios(raw: DataFrame, target: DataFrame, textCol: String,
                    buckets: Int = 4096, alpha: Double = 1.0): Array[Double] = {
    require(buckets >= 1 && 4096 % buckets == 0,
      s"buckets must divide 4096 for a uniform md5 assignment, got $buckets")
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val ct = dsirBucketCounts(target, textCol, buckets)
    val cr = dsirBucketCounts(raw, textCol, buckets)
    val (tt, tr) = (ct.sum.toDouble, cr.sum.toDouble)
    Array.tabulate(buckets) { b =>
      math.log((ct(b) + alpha) / (tt + alpha * buckets)) -
        math.log((cr(b) + alpha) / (tr + alpha * buckets))
    }
  }

  /** DSIR log importance weight per document: Σ over the doc's hashed
    * grams of the bucket log ratio (Xie et al. 2023 — select raw docs
    * whose hashed-gram profile looks like the target distribution).
    * Returns (doc_id, logw), logw on the shared 1e-6 grid.
    *
    * Scale shape: the models are two bounded aggregations (≤ `buckets`
    * rows each, map-side combined) collected to `buckets` doubles; the
    * scoring pass is then a PURE PROJECTION — the ratio array rides the
    * plan as one foldable literal (32 KB at 4096 buckets) and each doc
    * folds its own gram list against it. No join, no explode, no shuffle
    * anywhere in the returned frame: the 100-TB form of "score every doc
    * against a global model". A gram-less doc scores 0 (= the models'
    * shared prior contributes nothing to the ratio sum). */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 4096,
                  alpha: Double = 1.0): DataFrame = {
    graft.expr.GraftFunctions.ensureRegistered(raw.sparkSession)
    val ratios = dsirLogRatios(raw, target, textCol, buckets, alpha)
    // r9: the fold form (aggregate + md5/conv/element_at per gram through
    // the expression INTERPRETER — ArrayAggregate is CodegenFallback) cost
    // 9 s/run at sf0.1; the native kernel runs the identical math (same
    // gram order, same md5 buckets — bit-identical sums) inside codegen
    raw.select(col(idCol).as("doc_id"),
      (round(call_function("graft_dsir_logw", col(textCol),
        typedLit(ratios)) * 1e6) / 1e6).as("logw"))
  }

  /** DSIR selection: Gumbel-top-k resampling of `k` raw documents with
    * probability ∝ exp(logw) — the published without-replacement sampler
    * (add Gumbel(0,1) noise to each log weight, take the top k). The
    * Gumbel variate derives from the content-stable md5 uniform
    * (`-ln(-ln(u))`, u = (32-bit md5 of 'g'||doc_id + 0.5)/2³², strictly
    * inside (0,1)), so selection is deterministic, engine-portable, and
    * stable under partitioning. Plans as one TakeOrderedAndProject over
    * the [[dsirWeights]] projection — no global sort, no shuffle; ties on
    * the 1e-6-quantized key break by doc_id. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int = 4096,
                 alpha: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    graft.expr.GraftFunctions.ensureRegistered(raw.sparkSession)
    val ratios = dsirLogRatios(raw, target, textCol, buckets, alpha)
    val logw = call_function("graft_dsir_logw", col(textCol),
      typedLit(ratios))
    val u = (conv(substring(md5(concat(lit("g"),
      col(idCol).cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long").cast("double") + 0.5) / 4294967296.0
    val gumbel = -log(-log(u))
    raw.select(col(idCol).as("doc_id"),
        (round(logw * 1e6) / 1e6).as("logw"),
        (round((logw + gumbel) * 1e6) / 1e6).as("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id").asc)
      .limit(k)
  }
}
