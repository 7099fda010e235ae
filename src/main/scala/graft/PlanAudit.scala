package graft

import org.apache.spark.sql.DataFrame
import graft.core.Tables

/** Plan-audit main: prints the formatted physical plan of headline
  * queries plus automated checks of the plan properties that matter at
  * 100 TB (pushdown, pruned read schema, partial aggregation, broadcast
  * strategy, TakeOrderedAndProject, whole-stage codegen spans).
  *
  * Output is meant to be captured into PLANS.md per round.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Tables.session("plan-audit", "8")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")

    def audit(name: String, checks: Seq[(String, String => Boolean)])
             (mk: => DataFrame): Unit = {
      val df = mk
      val plan = df.queryExecution.executedPlan.toString
      val formatted = {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(out) { df.explain("formatted") }
        out.toString
      }
      println(s"\n===== $name =====")
      println(formatted.linesIterator.take(40).mkString("\n"))
      checks.foreach { case (what, ok) =>
        println(s"CHECK[$name] $what: " +
          (if (ok(formatted)) "OK" else "MISSING"))
      }
      val _ = plan
    }

    audit("q1_pricing (partial agg + pruned scan)", Seq(
      "partial aggregation before exchange" -> (_.contains("partial_")),
      "column-pruned read schema" ->
        (p => p.contains("ReadSchema") && !p.contains("l_shipdate")),
      // codegen is checked below on the EXECUTED final plan — the
      // formatted string of an unexecuted AQE plan hides the spans,
      // and the old `|| AdaptiveSparkPlan` escape made the check
      // unfailable (r12 vacuity sweep). POSITIONAL: the partial agg's
      // node number must sit below the key exchange, the final above
      // (a bare node count can't see ordering and breaks on unrelated
      // extra aggregates)
      "partial agg BELOW the key exchange BELOW the final agg" -> { p =>
        val aggs = "\\((\\d+)\\) HashAggregate".r
          .findAllMatchIn(p).map(_.group(1).toInt).toSeq
        val exch = ("\\((\\d+)\\) Exchange\\nInput[^\\n]*\\n" +
          "Arguments: hashpartitioning\\(l_returnflag").r
          .findFirstMatchIn(p).map(_.group(1).toInt)
        aggs.nonEmpty && exch.exists(e =>
          aggs.min < e && aggs.max > e)
      }))(
      SparkEntry.queries("q1_pricing")(spark, dir))

    // whole-stage codegen only materializes in the FINAL adaptive plan
    // — execute, then inspect
    locally {
      val df = SparkEntry.queries("q1_pricing")(spark, dir)
      df.collect()
      // compact plan strings mark codegen stages as `*(n) Op`
      val ep = df.queryExecution.executedPlan.toString
      println("CHECK[q1_pricing] whole-stage codegen (executed final plan): " +
        (if (ep.contains("WholeStageCodegen") || ep.contains("*(")) "OK"
         else "MISSING"))
    }

    audit("o3_topk (no global sort)", Seq(
      "TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject"))))(
      SparkEntry.queries("o3_topk")(spark, dir))

    // OFFSET must ride inside the TakeOrdered (partitions keep
    // offset+limit rows, driver merges+skips) — assert the offset
    // argument AND the absence of a global Sort node, not just the
    // operator name (a Sort + separate GlobalLimit would still contain
    // the substring)
    audit("o6_page (offset inside TakeOrdered, no global sort)", Seq(
      "TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject")),
      // formatted explain prints the node as
      // `Arguments: <offset+limit>, [sort], [project], <offset>`
      "offset carried by the operator (limit 120 = offset 100 + 20)" ->
        (p => "Arguments: 120, .*, 100".r.findFirstIn(p).isDefined),
      "no standalone Sort node" ->
        (p => !"\\(\\d+\\) Sort\\b".r.findFirstIn(p).isDefined)))(
      SparkEntry.queries("o6_page")(spark, dir))

    audit("j1_semi_top (broadcast semi-join)", Seq(
      "broadcast hash join" -> (_.contains("BroadcastHashJoin")),
      "left semi" -> (_.toLowerCase.contains("leftsemi"))))(
      SparkEntry.queries("j1_semi_top")(spark, dir))

    // the initial adaptive plan already prints the join strategy — no
    // AQE escape (it made this gate unfailable; r12 vacuity sweep)
    audit("j2_label_attach (broadcast equi-join)", Seq(
      "broadcast hash join" -> (_.contains("BroadcastHashJoin"))))(
      SparkEntry.queries("j2_label_attach")(spark, dir))

    // The p3 predicate parses JSON per row — unpushable by definition; the
    // scan must still prune to the 2 referenced columns. (At 100 TB the
    // fix is schema-on-write: materialize k as a column — then the j4-style
    // pushdown below applies.)
    audit("p3_isin_nested (column pruning under unpushable predicate)", Seq(
      "read schema pruned to event_id+props" ->
        (_.contains("ReadSchema: struct<event_id:bigint,props:string>"))))(
      SparkEntry.queries("p3_isin_nested")(spark, dir))

    // heterogeneous shards must merge inside ONE scan relation — a
    // per-shard read + unionByName would plan a Union of two scans (and
    // at N shards, N scans); the reader's schema union keeps it flat
    audit("s11_schema_merge (one scan over heterogeneous shards)", Seq(
      // count numbered detail nodes — the tree line AND its detail header
      // both print "Scan json", so match the "(n) Scan json" form only
      "single json scan, no Union operator" ->
        (p => "\\(\\d+\\) Scan json".r.findAllIn(p).size == 1 &&
          !p.contains("Union")),
      "no join" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("s11_schema_merge")(spark, dir))

    audit("j4 scan (plain-column predicate pushdown)", Seq(
      "vec_id range pushed to parquet" ->
        (p => p.contains("PushedFilters") && p.contains("LessThan(vec_id"))))(
      Tables.table(spark, dir, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 300))

    audit("llm_exact_dedup (two-phase agg)", Seq(
      "partial min/count" -> (_.contains("partial_min")),
      // one agg exchange + one (determinism-only) sort exchange
      "at most 2 exchanges in tree" ->
        (p => "\\+- Exchange".r.findAllIn(p).size <= 2)))(
      SparkEntry.queries("llm_exact_dedup")(spark, dir))

    audit("a13_cluster_stats (window shares shuffle with agg)", Seq(
      "one hash-partitioned exchange for label" ->
        (_.contains("hashpartitioning"))))(
      SparkEntry.queries("a13_cluster_stats")(spark, dir))

    // the typed-Aggregator form must plan like any sum: partial agg
    // (map-side combine) and NO per-group window sort
    audit("a13b_argmin_rep (typed UDAF, partial agg, no window)", Seq(
      "partial aggregation of the UDAF buffer" -> (_.contains("partial_")),
      "no Window operator" -> (p => !p.contains("Window"))))(
      SparkEntry.queries("a13b_argmin_rep")(spark, dir))

    audit("llm_near_dedup (native minhash, band-bucket join)", Seq(
      "native graft_minhash in plan" -> (_.contains("graft_minhash")),
      "no CodegenFallback interpreted HOF on hot path" ->
        (p => !p.contains("ArrayTransform") || p.contains("graft_minhash"))))(
      SparkEntry.queries("llm_near_dedup")(spark, dir))

    audit("llm_cosine_topk (scan + TakeOrdered, no shuffle of vectors)", Seq(
      "TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject")),
      "native fused cosine kernel" -> (_.contains("graft_cos_sim")),
      "no interpreted HOF fold" -> (p => !p.contains("aggregate(zip_with"))))(
      SparkEntry.queries("llm_cosine_topk")(spark, dir))

    // PQ serving: encode is the graft_nn_topk kernel against literal
    // sub-codebooks, ADC+rerank is two TakeOrdereds — the whole search
    // must stay a per-row scan (no join, no shuffle of the vectors)
    audit("llm_pq_topk (kernel encode + ADC scan, no join)", Seq(
      "TakeOrderedAndProject (ADC/rerank top-k)" ->
        (_.contains("TakeOrderedAndProject")),
      "native nn_topk encode kernel in plan" -> (_.contains("graft_nn_topk")),
      "native fused cosine rerank kernel" -> (_.contains("graft_cos_sim")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      "no ScalaUDF" -> (p => !p.contains("ScalaUDF"))))(
      SparkEntry.queries("llm_pq_topk")(spark, dir))

    // round 4 rewrote the curve onto the graft_nn_topk matrix-literal
    // heap-select (no n²-row join); the old graft_l2_dist check was stale
    audit("m3_knn_curve (native matrix heap-select kernel)", Seq(
      "native graft_nn_topk in plan" -> (_.contains("graft_nn_topk")),
      "no interpreted HOF fold" -> (p => !p.contains("aggregate(zip_with"))))(
      SparkEntry.queries("m3_knn_curve")(spark, dir))

    // r10: the approx curve's candidate stream must stay id-only — the
    // n-row vector side broadcasts for the attach (the un-broadcast form
    // went sort-merge and spilled >80 GB at x100), and the only kernel in
    // the hot path is the fused native distance
    audit("m3_knn_curve_approx (id-only candidates, broadcast vec attach)", Seq(
      "vector attach is broadcast, not sort-merge" ->
        (p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")),
      "native graft_l2_dist in plan" -> (_.contains("graft_l2_dist")),
      "no interpreted HOF fold" -> (p => !p.contains("aggregate(zip_with"))))(
      SparkEntry.queries("m3_knn_curve_approx")(spark, dir))

    audit("j4_eps_self_join (native dot kernel)", Seq(
      "native graft_dot in plan" -> (_.contains("graft_dot"))))(
      SparkEntry.queries("j4_eps_self_join")(spark, dir))

    // ---- round-4 curation layer ------------------------------------
    audit("llm_decontaminate (eval grams broadcast, train side unshuffled)", Seq(
      "eval-gram side is a BroadcastExchange" ->
        (_.contains("BroadcastExchange")),
      // both joins (gram-hash inner, doc-id left-outer) must broadcast —
      // ANY SortMergeJoin in this plan means a big side shuffled
      "gram join is broadcast, not sort-merge" ->
        (p => p.contains("BroadcastHashJoin Inner") &&
          !p.contains("SortMergeJoin")),
      "8-byte hash join key (xxhash64), not gram strings" ->
        (_.contains("xxhash64")))) (
      SparkEntry.queries("llm_decontaminate")(spark, dir))

    // round-7: the scan-kernel decontamination must stay explode-free —
    // no Generate (the gram explode it replaces) and no join of any kind
    // (membership is a broadcast array inside the kernel); audited
    // WITHOUT the registered query's presentation orderBy
    audit("llm_decontaminate_scan (kernel form: no explode, no join)", Seq(
      "no Generate (gram explode) anywhere" -> (p => !p.contains("Generate")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      // r8: the window kernel is the native expression, not a UDF closure
      "native graft_gram_hits in plan" -> (_.contains("graft_gram_hits")),
      "no ScalaUDF in the scan plan" -> (p => !p.contains("ScalaUDF")),
      // formatted explain prints each scan twice (tree + detail section)
      "single scan of documents" ->
        (p => "Scan parquet".r.findAllIn(p).size <= 2)))(
      graft.dedup.Curation.decontaminateScan(
        Tables.table(spark, dir, "documents"),
        Tables.table(spark, dir, "documents")
          .filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0),
        "doc_id", "text", n = 8))

    // round-7 late additions: winnowing runs the native kernel (the
    // fingerprint pass must be scan+explode of kernel output, no join),
    // and the charlm scan form must stay explode-free like decontaminate
    audit("llm_winnow_fingerprint (native kernel, no join)", Seq(
      "native graft_winnow in plan" -> (_.contains("graft_winnow")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join"))))(
      SparkEntry.queries("llm_winnow_fingerprint")(spark, dir))

    // round-8: the Karp-Rabin core form must be a pure scan+explode —
    // zero Exchange (no global sort of ~n·fingerprint rows), so its bench
    // time measures the O(1)-per-slide kernel, not a presentation orderBy
    audit("llm_winnow_kr_core (rolling-hash kernel, zero shuffle)", Seq(
      "native graft_winnow_kr in plan" -> (_.contains("graft_winnow_kr")),
      "no Exchange anywhere" -> (p => !p.contains("Exchange")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join"))))(
      SparkEntry.queries("llm_winnow_kr_core")(spark, dir))

    audit("llm_charlm_nll_scan (kernel form: no explode, no join, no UDF)", Seq(
      "no Generate (position explode) in the scoring plan" ->
        (p => !p.contains("Generate")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      // round-8: the scoring kernel is the codegen'd native expression,
      // not a ScalaUDF closure (the one hot-path UDF the r7 verdict flagged)
      "native graft_charlm_nll in plan" -> (_.contains("graft_charlm_nll")),
      "no ScalaUDF in the scoring plan" -> (p => !p.contains("ScalaUDF"))))(
      SparkEntry.queries("llm_charlm_nll_scan")(spark, dir))

    audit("llm_bpe_doc_tokens (scan-form token count: one projection pass)", Seq(
      "native graft_bpe_count in plan" -> (_.contains("graft_bpe_count")),
      "no Generate (word explode) anywhere" -> (p => !p.contains("Generate")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      "no ScalaUDF in the counting plan" -> (p => !p.contains("ScalaUDF")),
      // the only exchange is the output ORDER BY's range partitioning
      "at most 1 exchange (ordering only)" ->
        (p => "\\+- Exchange".r.findAllIn(p).size <= 1)))(
      SparkEntry.queries("llm_bpe_doc_tokens")(spark, dir))

    audit("llm_bpe_encode (vocab encode: distinct is the only wide op)", Seq(
      "native graft_bpe_encode in plan" -> (_.contains("graft_bpe_encode")),
      // distinct compiles to keys-only HashAggregate pairs (no partial_
      // marker); the word shuffle is the one wide op and the encode
      // Project sits ABOVE the final aggregate — per distinct word
      "distinct shuffle keyed on word" ->
        (_.contains("hashpartitioning(word")),
      "no ScalaUDF in the encode plan" -> (p => !p.contains("ScalaUDF"))))(
      SparkEntry.queries("llm_bpe_encode")(spark, dir))

    // global line dedup: first-occurrence via min-struct AGGREGATION —
    // a row_number window would funnel a corpus-wide hot line (cookie
    // banner) into one partition; partial_min must appear, Window must not
    audit("llm_global_line_dedup (agg first-occurrence, no hot-line window)", Seq(
      "map-side partial min before exchange" -> (_.contains("partial_min")),
      "no Window operator" -> (p => !p.contains("Window"))))(
      SparkEntry.queries("llm_global_line_dedup")(spark, dir))

    // boilerplate strip: the over-threshold line set must come from a
    // map-side-combining count (hot boilerplate collapses before the
    // exchange) and join back as a BROADCAST — the corpus side must not
    // reshuffle on the line key, and no window anywhere
    audit("llm_boilerplate_strip (partial count + broadcast boiler set)", Seq(
      "map-side partial count before exchange" -> (_.contains("partial_count")),
      "boilerplate set joins back as broadcast" ->
        (_.contains("BroadcastHashJoin")),
      "no Window operator" -> (p => !p.contains("Window")),
      "no sort-merge join of the corpus on the line key" ->
        (p => !p.contains("SortMergeJoin"))))(
      SparkEntry.queries("llm_boilerplate_strip")(spark, dir))

    audit("llm_token_pack (two-pass prefix sum, no global window)", Seq(
      "no single-partition Window operator" -> (p => !p.contains("Window")),
      "pass-2 is the Curation mapPartitions pass over the pinned RDD" ->
        (_.contains("mapPartitionsWithIndex at Curation.scala"))))(
      SparkEntry.queries("llm_token_pack")(spark, dir))

    audit("llm_seq_pack (two-pass prefix sum + bounded window fan-out)", Seq(
      "no single-partition Window operator" -> (p => !p.contains("Window")),
      "pass-2 is the Curation mapPartitions pass over the pinned RDD" ->
        (_.contains("mapPartitionsWithIndex at Curation.scala")),
      "window fan-out is a Generate over the bounded sequence" ->
        (p => p.contains("Generate") && p.contains("explode(sequence("))))(
      SparkEntry.queries("llm_seq_pack")(spark, dir))

    // r20: CC rides the Dbscan small-regime route under the probed
    // ≤200k edge cap — labels return via ONE broadcast join of the
    // (≤2·cap-entry) paired-id table onto the id scan; singletons
    // coalesce to their own id in-plan, so the driver never holds the
    // corpus. Past the cap GraphX engages unchanged (route equality
    // spec-pinned in CurationSpec). The audit pins the fixture-scale
    // shape: label attach is a BROADCAST join (never a shuffle of the
    // corpus against the label table) and sizes still aggregate with a
    // hash exchange.
    audit("llm_dup_groups (small-regime CC: broadcast label attach)", Seq(
      "label table attaches via broadcast join" ->
        (_.contains("BroadcastHashJoin")),
      "corpus ids never shuffle for the attach (no sort-merge join)" ->
        (p => !p.contains("SortMergeJoin")),
      "group sizes aggregated with a hash-partitioned exchange" ->
        (_.contains("hashpartitioning"))))(
      SparkEntry.queries("llm_dup_groups")(spark, dir))

    audit("llm_repetition (partial agg before exchange)", Seq(
      "map-side partial aggregation" -> (_.contains("partial_")),
      "no interpreted HOF fold" -> (p => !p.contains("aggregate(zip_with"))))(
      SparkEntry.queries("llm_repetition")(spark, dir))

    // positions come from the pinned two-pass count — a global window
    // would single-partition the corpus
    audit("llm_corpus_shuffle (two-pass positions, no global window)", Seq(
      "no single-partition Window operator" -> (p => !p.contains("Window")),
      "pass-2 is the Curation mapPartitions pass over the pinned RDD" ->
        (_.contains("mapPartitionsWithIndex at Curation.scala"))))(
      SparkEntry.queries("llm_corpus_shuffle")(spark, dir))

    // the union-sweep as-of join: one exchange on the key + a running
    // window — never the O(pairs) inequality join + regroup
    audit("j5_asof_join (union sweep, no join operator)", Seq(
      "no join operator anywhere" -> (p => !Seq("HashJoin", "MergeJoin",
        "NestedLoop", "CartesianProduct").exists(p.contains)),
      "running window frame (unbounded preceding)" ->
        (_.contains("unboundedpreceding"))))(
      SparkEntry.queries("j5_asof_join")(spark, dir))

    audit("llm_corpus_report (aggregate-first, fold/unfold totals, one scan)", Seq(
      "map-side partial aggregation" -> (_.contains("partial_")),
      "no Window operator" -> (p => !p.contains("Window")),
      // fp totals fold/unfold on the aggregated frame — no join, no
      // second lineage branch, structurally one scan of documents
      "no join operator anywhere" -> (p => !Seq("HashJoin", "MergeJoin",
        "NestedLoop", "CartesianProduct").exists(p.contains)),
      "single scan of documents" ->
        (p => "Scan parquet".r.findAllIn(p).size <= 2)))(
      SparkEntry.queries("llm_corpus_report")(spark, dir))

    audit("llm_heavy_hitters recount (candidate filter before shuffle)", Seq(
      // OptimizeIn rewrites the >10-item list to INSET
      "candidate isin filter in the plan" -> (p => p.contains("token#") &&
        p.contains("Filter") &&
        (p.contains(" IN ") || p.contains(" INSET "))),
      "partial agg before the exchange" -> (_.contains("partial_")),
      "no join operator (candidates are a literal IN-list)" ->
        (p => !Seq("HashJoin", "MergeJoin", "NestedLoop",
          "CartesianProduct").exists(p.contains))))(
      graft.ops.HeavyHitters.heavyHitters(
        Tables.table(spark, dir, "documents"), "text", 100))

    // audited WITHOUT the presentation orderBy: heap-cap first, then the
    // rank trim must REUSE the heap pass's clustering (one corpus
    // exchange total) and the quota table must broadcast
    audit("llm_unimax_sample core (heap cap, one exchange, broadcast quotas)", Seq(
      "TopKPerGroup operator planned" -> (_.contains("TopKPerGroup")),
      // match the Arguments line, not "Exchange hashpartitioning":
      // formatted explain puts the node header and its arguments on
      // separate lines, so the prefixed form never matches (a vacuous
      // always-OK check until r11 caught it)
      "single hash exchange of the corpus (trim reuses the clustering)" ->
        (p => "hashpartitioning\\(".r.findAllIn(p).size <= 2),
      "quota table broadcast (no shuffle join)" ->
        (p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))))(
      graft.dedup.Curation.unimaxSample(
        Tables.table(spark, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", budget = 60))

    // audited WITHOUT the registered query's presentation orderBy: the
    // chunker itself must stay a zero-shuffle scan + bounded Generate
    audit("llm_chunk_overlap core (scan + Generate, zero shuffle)", Seq(
      "no Exchange anywhere" -> (p => !p.contains("Exchange")),
      // array_join is an expression, not a join — match operator names
      "no join operator anywhere" -> (p => !Seq("HashJoin", "MergeJoin",
        "NestedLoop", "CartesianProduct").exists(p.contains)),
      "chunk fan-out is a Generate over the bounded sequence" ->
        (p => p.contains("Generate") && p.contains("explode(sequence(")),
      "single scan of documents" ->
        (p => "Scan parquet".r.findAllIn(p).size <= 2)))(
      graft.text.Chunk.slidingChunks(
        Tables.table(spark, dir, "documents"), "doc_id", "text", 64, 48))

    audit("llm_token_fertility (one scan, scalar kernels, partial agg)", Seq(
      "map-side partial aggregation" -> (_.contains("partial_")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      "no Generate (token explode) anywhere" -> (p => !p.contains("Generate")),
      "single scan of documents" ->
        (p => "Scan parquet".r.findAllIn(p).size <= 2)))(
      SparkEntry.queries("llm_token_fertility")(spark, dir))

    // hashSplit itself (the registered query adds a presentation orderBy —
    // audited WITHOUT it: the operator must be a pure scan-speed projection)
    audit("llm_hash_split core (pure projection, zero shuffle)", Seq(
      "no Exchange anywhere" -> (p => !p.contains("Exchange")),
      "no Window" -> (p => !p.contains("Window"))))(
      graft.dedup.Curation.hashSplit(
        Tables.table(spark, dir, "documents").select("doc_id"), "doc_id"))

    // round-7: the A6 family's exact quartiles must come from ONE shared
    // array-form percentile buffer per column — the pre-r7 form built
    // three independent full-column TypedImperativeAggregate buffers per
    // column (23.3 s at sf0.1; 3× the single-task final-merge payload)
    audit("a6_describe_all (shared array-form percentile buffer)", Seq(
      "array-form percentile [0.25,0.5,0.75] in plan" ->
        (_.contains("[0.25,0.5,0.75]")),
      // a scalar second argument (percentile(c, 0.25, ...)) means an
      // independent buffer per quartile — the regression this guards
      "no scalar-literal percentile buffers" ->
        (p => !"percentile\\([^,]*, 0\\.\\d".r.findFirstIn(p).isDefined)))(
      SparkEntry.queries("a6_describe_all")(spark, dir))

    // round-8 capstone: the composed curation pipeline must inherit its
    // stages' scale shapes — in particular tokenPack's two-pass prefix
    // sum (a Window here would mean the single-partition cliff returned).
    audit("llm_curation_pipeline (packing stage keeps its shape)", Seq(
      "no single-partition Window operator" -> (p => !p.contains("Window")),
      "shard packing is the pinned mapPartitions pass" ->
        (_.contains("mapPartitionsWithIndex at Curation.scala")),
      "per-shard stats aggregate behind a hash exchange" ->
        (_.contains("hashpartitioning"))))(
      SparkEntry.queries("llm_curation_pipeline")(spark, dir))

    // round-9: the registered query's FINAL plan starts at tokenPack's
    // pinned RDD — the upstream stages execute eagerly inside the prefix
    // sum and are invisible above (any upstream check there is vacuous).
    // Gate the PRE-PACK frame directly: the decontamination stage must be
    // the SCAN form — a Generate (gram explode) or a gram-hash join here
    // means the 100-TB-killer join form crept back in.
    audit("llm_curation_pipeline pre-pack stages (scan-form decontamination)", Seq(
      "decontamination is the scan kernel (gram_hits in plan)" ->
        (_.contains("gram_hits")),
      "no gram explode (Generate) anywhere in the composed stages" ->
        (p => !p.contains("Generate")),
      // the join form keys on a gram_h attribute (gram_h#NNN); the scan
      // kernel's name graft_gram_hits must not trip this, so match the
      // attribute-reference form only
      "no gram-hash join (the only joins are the doc_id semi-joins)" ->
        (p => !p.contains("gram_h#")),
      "no Window operator in the composed stages" ->
        (p => !p.contains("Window")),
      "doc_id semi-joins broadcast (no shuffle of the corpus side)" ->
        (_.contains("BroadcastHashJoin"))))(
      SparkEntry.curationPipelineTrain(spark, dir))

    // round-9: semanticDedup's pair search — like the curation pipeline's
    // pre-pack stages, the public operator's final plan starts at the
    // GraphX CC RDD, so the audit targets the pair-stage frame directly.
    // The join MUST key on the KMeans cell: a nested-loop/cartesian plan
    // here is the corpus-wide all-pairs search the operator exists to
    // avoid.
    {
      val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val (assigned, pairs) = graft.dedup.Similarity.semanticDedupPairs(
        embDf, "vec_id", "embedding", k = 16, threshold = 0.9,
        fitCap = 100000L, maxClusterSize = 100000, seed = 42L)
      audit("llm_semantic_dedup pair stage (cluster-keyed, never all-pairs)", Seq(
        "pair join keys on the cluster id (_cell hash exchange)" ->
          (_.contains("hashpartitioning(_cell")),
        "no cartesian / nested-loop join" ->
          (p => !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin"))))(pairs)
      assigned.unpersist(blocking = false)
    }

    // round-9: the contamination report's two-phase shape — phase 1 is
    // the explode-free scan kernel over the whole corpus; the ONLY gram
    // explode (Generate) allowed is phase 2's, over the flagged subset,
    // joined against a broadcast eval-gram table
    audit("llm_contamination_report (scan-flag first, explode only on hits)", Seq(
      "phase-1 flagging is the scan kernel (gram_hits in plan)" ->
        (_.contains("gram_hits")),
      // two Generates are the contract: the flagged-subset explode and
      // the tiny eval-side explode (building the broadcast gram table);
      // the train-side explode must sit ABOVE the LeftSemi flag join —
      // an unguarded full-corpus explode would have no semi-join below it
      "exactly two Generates (flagged subset + eval side)" ->
        (p => "\\(\\d+\\) Generate".r.findAllIn(p).size == 2),
      "train-side explode is gated by the LeftSemi flag join" ->
        (_.contains("LeftSemi")),
      "eval grams broadcast (BroadcastHashJoin on gram_h)" ->
        (_.contains("BroadcastHashJoin"))))(
      SparkEntry.queries("llm_contamination_report")(spark, dir))

    // round-9: the percentile filter is a threshold literal applied at
    // scan speed — no join, no Window; the only Exchange permitted is the
    // registered query's presentation sort
    audit("llm_quality_percentile (global statistic -> scan filter)", Seq(
      "no join operator anywhere" ->
        (p => !p.toLowerCase.contains("join")),
      "no Window operator" -> (p => !p.contains("Window")),
      "threshold applied as a Filter (no aggregation in the final plan)" ->
        (p => p.contains("Filter") && !p.contains("Aggregate"))))(
      SparkEntry.queries("llm_quality_percentile")(spark, dir))

    // perplexity bucketing: tercile thresholds are driver literals, so
    // the final plan must be one kernel projection — no join of docs to
    // thresholds, no position explode, no ScalaUDF
    audit("llm_perplexity_buckets (global terciles -> one kernel scan)", Seq(
      "native graft_charlm_nll kernel in plan" ->
        (_.contains("graft_charlm_nll")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      "no Generate (position explode)" -> (p => !p.contains("Generate")),
      "no ScalaUDF" -> (p => !p.contains("ScalaUDF"))))(
      SparkEntry.queries("llm_perplexity_buckets")(spark, dir))

    audit("llm_exact_substr (window count partial-aggregated, linear rebuild)", Seq(
      "map-side partial aggregation on the window hash" ->
        (_.contains("partial_")),
      "no Window operator (rebuild is a fold projection)" ->
        (p => !p.contains("WindowExec") && !p.contains("Window ")),
      "windows keyed on xxhash64, not the string" -> (_.contains("xxhash64"))))(
      SparkEntry.queries("llm_exact_substr")(spark, dir))

    // DSIR: the two model aggregations are collected during construction
    // (≤4096 rows each); the returned frames must be pure scans — the
    // ratio array is a foldable literal, never a joined relation
    audit("llm_dsir_weights core (model as literal -> pure projection)", Seq(
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      "no Generate (gram explode) in the scoring pass" ->
        (p => !p.contains("Generate")),
      "no Exchange anywhere (zero shuffle)" -> (p => !p.contains("Exchange")),
      // r9: scoring is the native codegen kernel, not the interpreted
      // ArrayAggregate fold (15x at sf0.1: 17.7s -> 1.1s)
      "native graft_dsir_logw in plan" -> (_.contains("graft_dsir_logw")),
      "no interpreted aggregate fold" -> (p => !p.contains("aggregate(")),
      "no ScalaUDF" -> (p => !p.contains("ScalaUDF"))))(
      { val docs = Tables.table(spark, dir, "documents")
        graft.dedup.Curation.dsirWeights(docs,
          docs.filter(org.apache.spark.sql.functions.col("source") === "src0"),
          "doc_id", "text") })

    audit("llm_dsir_select (Gumbel top-k, no global sort)", Seq(
      "TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject")),
      "no join operator anywhere" -> (p => !p.toLowerCase.contains("join")),
      "no Exchange anywhere (zero shuffle)" -> (p => !p.contains("Exchange"))))(
      SparkEntry.queries("llm_dsir_select")(spark, dir))

    audit("llm_stratified_sample (native per-group heap, no full sort)", Seq(
      "TopKPerGroup operator planned" -> (_.contains("TopKPerGroup")),
      // a global sort by the md5 key would plan rangepartitioning(h#...);
      // the presentation orderBy keys on (source, doc_id), so this
      // pattern only matches a real regression
      "no global Sort of the corpus by the md5 key" ->
        (p => !p.contains("rangepartitioning(h#"))))(
      SparkEntry.queries("llm_stratified_sample")(spark, dir))

    // corpus pruned to the |Q| query terms BEFORE the explode: the plan's
    // Generate must run over an array filter, the idf side must come back
    // broadcast, and the top-k must be a heap (TakeOrderedAndProject) —
    // a SortMergeJoin or global Sort here means the tiny side shuffled
    // the corpus
    audit("llm_bm25_topk (pruned explode, broadcast idf, heap top-k)", Seq(
      "array pruned before explode (filter inside Generate)" ->
        (p => p.contains("explode(filter(")),
      "idf side broadcast" -> (_.contains("BroadcastHashJoin")),
      "no sort-merge join" -> (p => !p.contains("SortMergeJoin")),
      "top-k is TakeOrderedAndProject" ->
        (_.contains("TakeOrderedAndProject"))))(
      SparkEntry.queries("llm_bm25_topk")(spark, dir))

    // ROLLUP = one Expand + ONE aggregation pass (partial + final),
    // never a per-grouping-set rescan or union of aggregates
    audit("a16_rollup (single Expand, one aggregation, no Union)", Seq(
      "Expand operator" -> (_.contains("Expand")),
      "partial aggregation" -> (_.contains("partial_")),
      "no Union of per-level scans" -> (p => !p.contains("Union")),
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1)))(
      SparkEntry.queries("a16_rollup")(spark, dir))

    // unpivot is a pure per-row Expand projection — the only exchange
    // allowed is the presentation sort's range partitioning
    audit("p12_unpivot (Expand projection, no join/aggregate)", Seq(
      "Expand operator" -> (_.contains("Expand")),
      "no join" -> (p => !p.contains("Join")),
      "no aggregate" -> (p => !p.contains("HashAggregate"))))(
      SparkEntry.queries("p12_unpivot")(spark, dir))

    // both directions of the as-of sweep are ONE hash exchange on the
    // key + one window sort — flipping direction must not add a plan node
    audit("j5b_asof_forward (single-exchange union sweep)", Seq(
      "window sweep (no range/theta join)" ->
        (p => p.contains("Window") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
      "exactly one hash exchange on the key" ->
        (p => "hashpartitioning\\(user_id".r.findAllIn(p).size >= 1 &&
          !p.contains("SortMergeJoin"))))(
      SparkEntry.queries("j5b_asof_forward")(spark, dir))

    audit("w2_lag_delta (keyed window, O(1) state)", Seq(
      "window over user_id hash exchange" ->
        (p => p.contains("Window") && p.contains("hashpartitioning(user_id")),
      "no join" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("w2_lag_delta")(spark, dir))

    // NOT IN over a NULLABLE subquery column must plan the single-column
    // null-aware anti join's optimized HASH form, not the nested loop
    // three-valued logic would naively force
    audit("sql_not_in (null-aware anti join stays a hash join)", Seq(
      "left anti join" -> (_.toLowerCase.contains("leftanti")),
      "hash join (no nested loop)" ->
        (p => p.contains("BroadcastHashJoin") &&
          !p.contains("BroadcastNestedLoopJoin"))))(
      SparkEntry.queries("sql_not_in")(spark, dir))

    // the exclusion list is a fresh statless aggregate — the pinned
    // broadcast keeps the big side scan-only (no shuffle of it)
    audit("j6_anti_join (broadcast anti-join)", Seq(
      "broadcast hash join" -> (_.contains("BroadcastHashJoin")),
      "left anti" -> (_.toLowerCase.contains("leftanti")),
      "no sort-merge of the big side" -> (p => !p.contains("SortMergeJoin"))))(
      SparkEntry.queries("j6_anti_join")(spark, dir))

    // the whole point of the bin rewrite: an equi-key hash join instead
    // of the O(n·m) nested-loop a bare BETWEEN predicate plans
    // audited on the RAW frame under the same aggPrefix-off scope the
    // registry query pins (r18: the keyed rewrite would otherwise
    // replace this very join — the registry now eagerly checkpoints
    // inside the scope, whose plan is a checkpoint scan, so the gate
    // rebuilds the lazy frame here)
    SparkEntry.withAggPrefixOff(spark) {
      audit("j7_range_join (binned equi-join, no nested loop)", Seq(
        "no BroadcastNestedLoopJoin" ->
          (p => !p.contains("BroadcastNestedLoopJoin")),
        "no CartesianProduct" -> (p => !p.contains("CartesianProduct")),
        "equi-join on the bin key" ->
          (p => p.contains("_bin") &&
            (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
              p.contains("ShuffledHashJoin"))),
        "containment filter after the join" -> (_.contains("Filter"))))(
        SparkEntry.rangeJoinAggFrame(spark, dir))
    }

    // r17: the injected optimizer rule must turn the NAIVE
    // aggregate-over-band-join into the JOIN-FREE prefix plan — the
    // fixture's qualifying pairs grow ×100 per ×10 rows, so at ×100 the
    // binned pair join pays 1502 s where this plan pays ~26 s. Audited
    // on the exact frame j7b runs (width conf armed, as the registry
    // query arms it — the agg rewrite itself needs no width).
    SparkEntry.withRangeJoinWidth(spark, "4000.0") {
      audit("j7b_range_join_auto (agg-over-band-join plans join-free prefix)",
        Seq(
          "join-free prefix operator planned" ->
            (_.contains("RangeAggPrefix")),
          "NO join of any kind (pairs never enumerated)" ->
            (p => !p.contains("Join")),
          "one range exchange feeds the prefix stitch" ->
            (_.contains("rangepartitioning")),
          "no bin replication (prefix replaced the bin join)" ->
            (p => !p.contains("_graft_bin"))))(
        SparkEntry.bandJoinNaive(spark, dir))
      // the BIN-JOIN rewrite still owns the no-aggregate shape (the
      // pairs ARE the output there) and the declined-aggregate shapes;
      // gate it on the same naive frame with the agg rewrite off so
      // the fallback path stays pinned
      val prev = spark.conf.getOption("spark.graft.rangeJoin.aggPrefix")
      spark.conf.set("spark.graft.rangeJoin.aggPrefix", "false")
      try audit("j7b fallback (aggPrefix off → binned equi-join)", Seq(
        "no BroadcastNestedLoopJoin" ->
          (p => !p.contains("BroadcastNestedLoopJoin")),
        "no CartesianProduct" -> (p => !p.contains("CartesianProduct")),
        "rewritten bin key present" -> (_.contains("_graft_bin")),
        "band filter kept after the bin join" -> (_.contains("Filter"))))(
        SparkEntry.bandJoinNaive(spark, dir))
      finally prev match {
        case Some(v) => spark.conf.set("spark.graft.rangeJoin.aggPrefix", v)
        case None => spark.conf.unset("spark.graft.rangeJoin.aggPrefix")
      }
    }

    // r18: the KEYED band shape (equi + band under an aggregate — the
    // "events in each session" query) must plan the keyed prefix: the
    // equi key leads the range sort (each key one contiguous run, the
    // global stitch unchanged), NO join — the shape Catalyst would
    // otherwise pick is a hash join on the key with the band as a
    // post-join filter, pair-enumerating inside every hot key
    audit("j7e_keyed_range_agg (equi+band plans the keyed prefix)", Seq(
      "join-free keyed prefix operator planned" ->
        (_.contains("RangeAggPrefix")),
      "NO join of any kind (per-key pairs never enumerated)" ->
        (p => !p.contains("Join")),
      "equi key leads the range sort" ->
        (p => "rangepartitioning\\(_graft_k0".r.findFirstIn(p).isDefined ||
          p.contains("_graft_k0#")),
      "one range exchange feeds the prefix stitch" ->
        (_.contains("rangepartitioning"))))(
      SparkEntry.queries("j7e_keyed_range_agg")(spark, dir))

    // exact min/max-in-range is the value-extrema scan with f = pt:
    // ONE RangeValueExtrema exec over ONE range exchange answers min
    // AND max; the only join is the NaN re-attach stitch (absent on
    // this fixture), never a nested loop. Formatted explain names a
    // node twice (tree line + detail header), so the count reads the
    // numbered detail headers.
    def valueScans(p: String): Int =
      "\\(\\d+\\) RangeValueExtrema".r.findAllIn(p).size
    audit("j7f_range_extrema (one join-free value scan)", Seq(
      "exactly one RangeValueExtrema scan" -> (p => valueScans(p) == 1),
      "range exchange feeds the scan" -> (_.contains("rangepartitioning")),
      "no nested loop / cartesian anywhere" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"))))(
      SparkEntry.queries("j7f_range_extrema")(spark, dir))

    // KEYED extrema — the same single scan with the equi key leading
    // its range sort (per-key runs contiguous); the NaN re-attach is a
    // per-key aggregate join, never a nested loop
    audit("j7g_keyed_extrema (one keyed value scan)", Seq(
      "exactly one RangeValueExtrema scan" -> (p => valueScans(p) == 1),
      "equi key leads the range sort" ->
        (p => "rangepartitioning\\(_graft_k0".r.findFirstIn(p).isDefined),
      "range exchange feeds the scan" -> (_.contains("rangepartitioning")),
      "no nested loop / cartesian anywhere" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"))))(
      SparkEntry.queries("j7g_keyed_extrema")(spark, dir))

    // r18: interval-overlap agg — two one-sided prefix counts, never
    // an interval join (the join form's bill is the output volume)
    audit("j7h_interval_overlap (three one-sided prefix counts)", Seq(
      "three RangeAggPrefix counts planned (total/below/above)" ->
        (p => "RangeAggPrefix".r.findAllIn(p).size >= 3),
      "range exchanges feed the stitches" ->
        (_.contains("rangepartitioning")),
      "no interval join of the two sides" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))))(
      SparkEntry.queries("j7h_interval_overlap")(spark, dir))

    // r18: overlap LENGTH — prefix frames stitched per instance; never
    // an interval join (the stitches join q-row aggregates on the
    // synthetic instance id, hash/broadcast). r20: FOUR one-sided
    // frames, count+sum each — the two-sided frames of the r18/r19
    // form are exact decimal differences of the one-sided ones, so the
    // upper mention bound pins that the two extra frames stay gone
    // (formatted explain names each node at most twice: tree + detail)
    audit("j7i_overlap_len (four prefix frames, no interval join)", Seq(
      "four one-sided RangeAggPrefix frames planned (not six)" ->
        (p => { val n = "RangeAggPrefix".r.findAllIn(p).size
          n >= 4 && n <= 8 }),
      "range exchanges feed the stitches" ->
        (_.contains("rangepartitioning")),
      "instance ids content-derived (window, no checkpoint scan)" ->
        (p => p.contains("row_number") && !p.contains("Scan ExistingRDD")),
      "no nested loop / cartesian anywhere" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"))))(
      SparkEntry.queries("j7i_overlap_len")(spark, dir))

    // r19: value extrema in range — ONE RangeValueExtrema scan answers
    // min AND max (segment trees + contained-partition table); the
    // only join is the NaN re-attach stitch (absent on this fixture),
    // never a join touching the point stream
    audit("j7j_value_extrema (join-free range-value scan)", Seq(
      "RangeValueExtrema exec planned" -> (_.contains("RangeValueExtrema")),
      // formatted explain names a node twice (tree line + detail
      // header): one physical scan = at most 2 mentions
      "ONE scan answers both extremes" ->
        (p => { val c = "RangeValueExtrema".r.findAllIn(p).size
          c >= 1 && c <= 2 }),
      "range exchange feeds the scan" -> (_.contains("rangepartitioning")),
      "no join of any kind (pairs never enumerated)" ->
        (p => !p.contains("Join"))))(
      SparkEntry.queries("j7j_value_extrema")(spark, dir))

    // r19: the naive min/max-over-band-join (int pt — NaN-free by
    // type) must auto-plan the value scan, with the nullable-f count
    // frame carrying membership; never the pair join
    audit("j7j_value_extrema_auto (band join auto-plans value scan)", Seq(
      "RangeValueExtrema scan planned" -> (_.contains("RangeValueExtrema")),
      "count frame carries membership (nullable f)" ->
        (_.contains("RangeAggPrefix")),
      "no nested loop / cartesian (pairs never enumerated)" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")),
      "range exchanges feed scan + frame" ->
        (_.contains("rangepartitioning"))))(
      SparkEntry.queries("j7j_value_extrema_auto")(spark, dir))

    // r19: KEYED value extrema — still ONE RangeValueExtrema scan
    // (composite-order containment makes the keyed form the same
    // machine); the equi key leads the range sort; no join anywhere
    audit("j7k_keyed_value_extrema (one keyed range-value scan)", Seq(
      "ONE RangeValueExtrema scan (tree + detail = ≤2 mentions)" ->
        (p => { val n = "RangeValueExtrema".r.findAllIn(p).size
          n >= 1 && n <= 2 }),
      "equi key leads the range sort" -> (_.contains("_graft_k0")),
      "range exchange feeds the scan" -> (_.contains("rangepartitioning")),
      "no join of any kind" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("j7k_keyed_value_extrema")(spark, dir))

    // r19: KEYED overlap count — two KEYED one-sided prefix counts
    // (equi key leads the range sorts) plus the per-key N_B aggregate;
    // never an interval join of the two sides
    audit("j7h_keyed_overlap (three keyed one-sided prefix counts)", Seq(
      "three RangeAggPrefix counts planned (total/below/above)" ->
        (p => "RangeAggPrefix".r.findAllIn(p).size >= 3),
      "equi key leads the range sorts" -> (_.contains("_graft_k0")),
      "range exchanges feed the stitches" ->
        (_.contains("rangepartitioning")),
      "no interval join of the two sides" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))))(
      SparkEntry.queries("j7h_keyed_overlap")(spark, dir))

    // r19: the naive SQL-style count-over-overlap-join must
    // auto-rewrite to the three prefix frames (validity proven by the
    // frames' own filters) — the pair join is never planned
    audit("j7h_overlap_auto (naive overlap join auto-plans prefix frames)",
      Seq(
        "three RangeAggPrefix frames planned" ->
          (p => "RangeAggPrefix".r.findAllIn(p).size >= 3),
        "no nested loop / cartesian (pairs never enumerated)" ->
          (p => !p.contains("BroadcastNestedLoopJoin") &&
            !p.contains("CartesianProduct")),
        "range exchanges feed the stitches" ->
          (_.contains("rangepartitioning"))))(
      SparkEntry.queries("j7h_overlap_auto")(spark, dir))

    // r19: KEYED overlap length — KEYED prefix frames, instance ids
    // from the row_number window (no materialization), never an
    // interval join. r20: four one-sided frames (see j7i_overlap_len)
    audit("j7i_keyed_len (four keyed prefix frames)", Seq(
      "four one-sided RangeAggPrefix frames planned (not six)" ->
        (p => { val n = "RangeAggPrefix".r.findAllIn(p).size
          n >= 4 && n <= 8 }),
      "equi key leads the range sorts" -> (_.contains("_graft_k0")),
      "instance ids content-derived (window, no checkpoint scan)" ->
        (p => p.contains("row_number") && !p.contains("Scan ExistingRDD")),
      "no nested loop / cartesian anywhere" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"))))(
      SparkEntry.queries("j7i_keyed_len")(spark, dir))

    // the injected DedupComputeRewrite must turn the NAIVE per-row
    // kernel projection into distinct→compute→join-back — audited on
    // the exact frame j3b runs. The kernel must be evaluated in the
    // dim branch (above the distinct aggregate), never in the per-row
    // output projection, and the join-back must be a hash join on the
    // key (broadcast: the dim is 31 rows)
    SparkEntry.withDedupCompute(spark) {
      // "per distinct key, not per row" is a TREE property, checked on
      // the optimized logical plan rather than formatted-explain text:
      // detail blocks are numbered leaves-first, so no fixed text
      // position reliably identifies the top Project (the earlier check
      // read the LOWEST-numbered one and could false-green). The tree
      // form: every Project evaluating the kernel must sit above an
      // Aggregate (the distinct) — in the naive plan the kernel Project
      // sits straight on the scan, so this fails there by construction.
      val perDistinct = {
        import org.apache.spark.sql.catalyst.plans.logical.{
          Aggregate => LAgg, Project => LProj}
        val oplan = SparkEntry.dedupNaiveProjection(spark, dir)
          .queryExecution.optimizedPlan
        def kernel(e: org.apache.spark.sql.catalyst.expressions.Expression) =
          e.exists(_.toString.contains("graft_levenshtein"))
        // two post-rewrite shapes: the dim Project above the distinct
        // Aggregate, or (CollapseProject — the injected rule shares the
        // operator-optimization fixed-point) the kernel merged INTO the
        // Aggregate's output — both are once-per-distinct-key. A
        // kernel-bearing Project with no Aggregate below is the naive
        // per-row shape and must fail.
        val sites = oplan.collect {
          case ag: LAgg if ag.aggregateExpressions.exists(kernel) => true
          case pr: LProj if pr.projectList.exists(kernel) =>
            pr.child.exists { case _: LAgg => true; case _ => false }
        }
        sites.nonEmpty && sites.forall(identity)
      }
      audit("j3b_dedup_auto (rule hoists kernel behind a distinct)", Seq(
        "join-back present (hash join)" ->
          (p => p.contains("BroadcastHashJoin") ||
            p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")),
        "distinct aggregate in the compute branch" ->
          (_.contains("HashAggregate")),
        "kernel evaluated per distinct key, not per row" ->
          (p => p.contains("graft_levenshtein") && perDistinct),
        "no cartesian / nested loop" ->
          (p => !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin"))))(
        SparkEntry.dedupNaiveProjection(spark, dir))
    }

    // r13 cost-based gating: in the default `auto` mode the rewrite
    // must fire on the stats-proven win regime (quadratic kernel ×
    // high dup factor × long keys) and decline the measured loss
    // regimes of PLANS.md calibration `dedupc` (cheap kernel;
    // near-unique key) — both directions
    // checked on ANALYZE'd fixtures with cbo on, no conf force
    locally {
      import org.apache.spark.sql.functions.{call_function, col, lit}
      graft.expr.GraftFunctions.ensureRegistered(spark)
      // withConfs restores the PRIOR cbo value — a bare unset would
      // clobber a session-level setting for every later audit
      graft.core.Util.withConfs(spark,
        Seq("spark.sql.cbo.enabled" -> "true")) {
        graft.core.Util.dropTableAndLocation(spark, "dcr_audit_r13")
        try {
        spark.range(10000).selectExpr("id",
          "repeat(concat('tok', cast(id % 10 as string), ' '), 240) AS text",
          "concat(repeat('pad ', 300), cast(id as string)) AS utext")
          .write.mode("overwrite").saveAsTable("dcr_audit_r13")
        spark.sql("ANALYZE TABLE dcr_audit_r13 COMPUTE STATISTICS " +
          "FOR COLUMNS text, utext")
        val tbl = spark.table("dcr_audit_r13")
        // the kernel cost model is per char-PAIR: the fire arm needs a
        // LONG reference (long-vs-short is correctly cheap)
        val longRef = "tok0 tok1 " * 120
        val fire = tbl.select(col("id"), call_function("graft_seq_ratio",
          col("text"), lit(longRef)).as("r"))
          .queryExecution.optimizedPlan.toString
        println("CHECK[dedup_cost_auto] fires on win regime " +
          "(dup 1000 x pairwise kernel, long-vs-long): " +
          (if (fire.contains("Join") && fire.contains("Aggregate")) "OK"
           else "MISSING"))
        val cheap = tbl.select(col("id"), call_function("graft_levenshtein",
          col("text"), lit(longRef)).as("d"))
          .queryExecution.optimizedPlan.toString
        println("CHECK[dedup_cost_auto] declines cheap kernel " +
          "(measured loss): " + (if (!cheap.contains("Join")) "OK"
           else "MISSING"))
        val uniq = tbl.select(col("id"), call_function("graft_seq_ratio",
          col("utext"), lit(longRef)).as("r"))
          .queryExecution.optimizedPlan.toString
        println("CHECK[dedup_cost_auto] declines near-unique key " +
          "(no savings): " + (if (!uniq.contains("Join")) "OK"
           else "MISSING"))
        val shortRef = tbl.select(col("id"), call_function(
          "graft_seq_ratio", col("text"), lit("tok0 tok1")).as("r"))
          .queryExecution.optimizedPlan.toString
        println("CHECK[dedup_cost_auto] declines short reference " +
          "(per-char-pair cost): " + (if (!shortRef.contains("Join")) "OK"
           else "MISSING"))
        // the REGISTRY query's own projection (shared helper, the
        // cmsBuild precedent): its hash gate can't distinguish a fired
        // rewrite from a declined one — this check pins that the
        // oracled j3c row exercises the FIRED plan
        val j3c = SparkEntry.j3cAutoProjection(spark)
          .queryExecution.optimizedPlan.toString
        println("CHECK[j3c_dedup_auto_cost] auto-fired in the registry " +
          "query (stats only, no conf force): " +
          (if (j3c.contains("Join") && j3c.contains("Aggregate")) "OK"
           else "MISSING"))
        } finally graft.core.Util.dropTableAndLocation(spark, "dcr_audit_r13")
      }
    }

    // r14: the stats-less PROBE fallback — plain parquet, NO ANALYZE,
    // cbo off. The bounded live probe must fire the rewrite on the win
    // regime and measure-then-decline the near-unique key (both
    // directions, the VERDICT r13 #4 acceptance)
    locally {
      import org.apache.spark.sql.functions.{call_function, col, lit}
      graft.expr.GraftFunctions.ensureRegistered(spark)
      val root = java.nio.file.Files.createTempDirectory("graft_dcr_probe_audit")
      try {
        val p = root.resolve("docs").toString
        spark.range(10000).selectExpr("id",
          "repeat(concat('tok', cast(id % 10 as string), ' '), 240) AS text",
          "concat(repeat('pad ', 300), cast(id as string)) AS utext")
          .write.mode("overwrite").parquet(p)
        val tbl = spark.read.parquet(p)
        val longRef = "tok0 tok1 " * 120
        val fire = tbl.select(col("id"), call_function("graft_seq_ratio",
          col("text"), lit(longRef)).as("r"))
          .queryExecution.optimizedPlan.toString
        println("CHECK[dedup_cost_probe] stats-less parquet (no ANALYZE) " +
          "fires via the live probe on the win regime: " +
          (if (fire.contains("Join") && fire.contains("Aggregate")) "OK"
           else "MISSING"))
        val uniq = tbl.select(col("id"), call_function("graft_seq_ratio",
          col("utext"), lit(longRef)).as("r"))
          .queryExecution.optimizedPlan.toString
        println("CHECK[dedup_cost_probe] probe measures the near-unique " +
          "key and declines: " + (if (!uniq.contains("Join")) "OK"
           else "MISSING"))
      } finally graft.core.Util.deleteRecursively(root)
    }

    // the fuzzy join's length prefilter must ride the binned equi-join
    // (shared with j7), never an all-pairs cross product; the exact
    // kernel decides candidates after the join
    audit("llm_fuzzy_join (length-blocked, no cross product)", Seq(
      "no CartesianProduct" -> (p => !p.contains("CartesianProduct")),
      "no BroadcastNestedLoopJoin" ->
        (p => !p.contains("BroadcastNestedLoopJoin")),
      "levenshtein kernel decides candidates" ->
        (_.contains("graft_levenshtein"))))(
      SparkEntry.queries("llm_fuzzy_join")(spark, dir))

    // pinned pivot values → ONE partial-agg shuffle, no discovery pass
    audit("a17_pivot (single aggregation, no value-discovery scan)", Seq(
      "partial aggregation" -> (_.contains("partial_")),
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1),
      "no join" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("a17_pivot")(spark, dir))

    audit("a18_cube (single Expand, one aggregation, no Union)", Seq(
      "Expand operator" -> (_.contains("Expand")),
      "partial aggregation" -> (_.contains("partial_")),
      "no Union of per-level scans" -> (p => !p.contains("Union")),
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1)))(
      SparkEntry.queries("a18_cube")(spark, dir))

    audit("w3_rolling_sum (keyed window, bounded frame)", Seq(
      "window over user_id hash exchange" ->
        (p => p.contains("Window") && p.contains("hashpartitioning(user_id")),
      "no join" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("w3_rolling_sum")(spark, dir))

    audit("w4_ntile (one window exchange for both ranks)", Seq(
      "single window exchange on event_type" ->
        (p => "hashpartitioning\\(event_type".r.findAllIn(p).size == 1),
      "no join" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("w4_ntile")(spark, dir))

    // lag + running boundary sum must share the user_id exchange — a
    // second hash exchange would mean the two windows didn't fuse
    audit("w5_sessionize (lag and running sum share one exchange)", Seq(
      "single hash exchange on user_id" ->
        (p => "hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
      "no join" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("w5_sessionize")(spark, dir))

    // the CMS build must shuffle ONE sketch per task (partial agg), not
    // token rows; probing is driver-side over the collected sketch. The
    // audited frame IS the query's build pipeline (shared builder), so
    // the gate cannot drift from what llm_cms_counts actually runs
    audit("llm_cms_counts build (partial sketch agg, no token shuffle)", Seq(
      "partial aggregation (map-side sketch fold)" -> (_.contains("partial_")),
      "no join" -> (p => !p.contains("Join")),
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1)))(
      SparkEntry.cmsSketchAgg(spark, dir))

    // the partition-column predicate must prune DIRECTORIES at listing
    // time (PartitionFilters), not ride as a data filter — the third
    // skipping mechanism next to row-group stats and DSv2 planning
    audit("s15_partitioned_scan (directory-level partition pruning)", Seq(
      "PartitionFilters carries the event_type predicate" ->
        (p => "PartitionFilters: \\[[^\\]]*event_type".r
          .findFirstIn(p).isDefined),
      // scope to event_type: an unrelated data filter must not trip this
      "no post-scan filter on event_type" ->
        (p => !"Condition : [^\\n]*event_type".r.findFirstIn(p).isDefined),
      "partial aggregation" -> (_.contains("partial_"))))(
      SparkEntry.queries("s15_partitioned_scan")(spark, dir))

    // the quantity filter must reach the ORC reader — same pushdown
    // machinery as parquet, second columnar format
    audit("s14_orc_roundtrip (filter pushed to the ORC scan)", Seq(
      "ORC scan present" -> (_.contains("Scan orc")),
      "quantity bound pushed" ->
        (p => p.contains("PushedFilters") &&
          p.contains("GreaterThan(l_quantity")),
      "partial aggregation" -> (_.contains("partial_"))))(
      SparkEntry.queries("s14_orc_roundtrip")(spark, dir))

    // the DSv2 scan must print the ABSORBED range (proof the filter
    // reached planInputPartitions, where it prunes whole slices) and the
    // pruned column list
    audit("s13_dsv2_scan (range pushed into the custom source)", Seq(
      "pushed range in scan description" ->
        (_.contains("pushedRange=[25000,50000)")),
      "columns pruned to lang+n_chars" ->
        (p => p.contains("cols=") && !p.contains("cols=doc_id")),
      "partial aggregation" -> (_.contains("partial_"))))(
      SparkEntry.queries("s13_dsv2_scan")(spark, dir))

    // DESC TopN must push WHOLE: the reader walks the last-k range
    // backward, so there is no Sort and no TakeOrderedAndProject left
    // in Spark's plan — just the single-partition reversed scan
    audit("s22b_topn_desc_push (DESC TopN fully pushed)", Seq(
      "range narrowed to the last k" ->
        (_.contains("pushedRange=[24993,25000)")),
      "reversed emission marked" -> (_.contains("order=desc")),
      "no Spark-side TopN" ->
        (p => !p.contains("TakeOrderedAndProject") &&
          !"\\(\\d+\\) Sort\\b".r.findFirstIn(p).isDefined)))(
      SparkEntry.queries("s22b_topn_desc_push")(spark, dir))

    // per-group min/max answered by the SOURCE in O(groups) residue
    // arithmetic: no HashAggregate anywhere, the scan emits the ≤5
    // result rows directly
    audit("s23b_agg_push_minmax (grouped min/max pushed complete)", Seq(
      "complete aggregate pushdown" ->
        (_.contains("pushedAggregation=complete")),
      "filtered range composed in" ->
        (_.contains("pushedRange=[123,4567)")),
      "no Spark-side aggregate" -> (p => !p.contains("HashAggregate"))))(
      SparkEntry.queries("s23b_agg_push_minmax")(spark, dir))

    // the refused post-aggregate limit: Spark must KEEP a limit node
    // above the pushed agg scan (the r12 advisory bug dropped it) and
    // the scan's printed range must stay unmutated
    audit("s23c_agg_push_limit (limit kept above pushed agg)", Seq(
      "complete aggregate pushdown" ->
        (_.contains("pushedAggregation=complete")),
      "range unmutated by the refused limit" ->
        (_.contains("pushedRange=[0,50000)")),
      "Spark keeps the TopN/limit" ->
        (p => p.contains("TakeOrderedAndProject") ||
          p.contains("GlobalLimit"))))(
      SparkEntry.queries("s23c_agg_push_limit")(spark, dir))

    // the REST DSv2 scan must print its planned page span (parallel
    // executor-side fetch, not the sequential driver pager) and a column
    // list pruned to what the aggregate reads — title/id token-skipped
    // inside the parser
    audit("s16_rest_v2 (parallel page plan + pruned parse)", Seq(
      "page span planned up front" -> (_.contains("pages=[0,20)")),
      "columns pruned to state+prio" ->
        (p => p.contains("cols=state,prio") && !p.contains("title")),
      "partial aggregation" -> (_.contains("partial_"))))(
      SparkEntry.queries("s16_rest_v2")(spark, dir))

    // the pushed equality must reach the server as a query param AND
    // shrink the page plan to the filtered count's span (1250 of 5000
    // records → 5 of 20 pages); a Spark-side re-filter would pass rows
    // but the params/pages markers would vanish
    audit("s16b_rest_filter (server-side filter pushdown)", Seq(
      "filter pushed as query param" -> (_.contains("params=state=new")),
      "page plan covers only the filtered span" -> (_.contains("pages=[0,5)")),
      "partial aggregation" -> (_.contains("partial_"))))(
      SparkEntry.queries("s16b_rest_filter")(spark, dir))

    // the completely-pushed COUNT(*): the plan must contain the count
    // scan (no per-row aggregation at all) carrying the pushed filter
    // param — the whole query is one envelope probe
    audit("s16c_rest_count (complete COUNT(*) pushdown)", Seq(
      "count scan node" -> (_.contains("GraftRestCountScan")),
      "pushed filter param on the count" -> (_.contains("params=state=new")),
      "probed filtered count" -> (_.contains("count=1250"))))(
      SparkEntry.queries("s16c_rest_count")(spark, dir))

    // the box predicate must reach the parquet reader on BOTH columns —
    // pushdown is what turns the Z-order layout into actual skipping
    audit("s12_zorder_scan (both box predicates pushed to parquet)", Seq(
      "user_id bound pushed" ->
        (p => p.contains("PushedFilters") &&
          p.contains("GreaterThanOrEqual(user_id")),
      "value bound pushed" -> (_.contains("GreaterThanOrEqual(value")),
      // the only exchange allowed is the global aggregate's own
      // single-partition gather — any other shuffle is a regression
      "at most the aggregate's exchange" ->
        (p => "\\+- Exchange".r.findAllIn(p).size <= 1 &&
          !p.contains("SortMergeJoin") && !p.contains("Window"))))(
      SparkEntry.queries("s12_zorder_scan")(spark, dir))

    // the sequential recurrence must ride ONE keyed exchange + local
    // sort into a mapPartitions pass — no Window (no frame expresses
    // it), no second exchange
    audit("w6_ewma (one exchange into the sequential pass)", Seq(
      "mapPartitions pass present" ->
        (p => p.contains("MapPartitions") || p.contains("mapPartitions")),
      "no Window operator" -> (p => !p.contains("Window")),
      // the key rides as the normalized tuple column _2 inside ewmaTyped
      "single hash exchange on the key" ->
        (p => "hashpartitioning\\(".r.findAllIn(p).size == 1)))(
      SparkEntry.queries("w6_ewma")(spark, dir))

    audit("a19_hll_rollup (one partial-agg shuffle of sketches)", Seq(
      "partial aggregation (map-side sketch build)" -> (_.contains("partial_")),
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1),
      "no join" -> (p => !p.contains("Join"))))(
      SparkEntry.queries("a19_hll_rollup")(spark, dir))

    // CDC chunking (r11): the chunk derivation must be a pure
    // scan+generate pipeline — native kernel in plan, no ScalaUDF, no
    // join, no shuffle before the (deliberate) presentation sort; the
    // dedup ledger's only corpus exchange is the hash-partitioned
    // group-by on chunk_md5 (hashes cross the wire, never text)
    audit("llm_cdc_chunks core (kernel scan+generate, no join)", Seq(
      "native graft_cdc_cuts kernel in plan" -> (_.contains("graft_cdc_cuts")),
      "no ScalaUDF" -> (p => !p.contains("ScalaUDF")),
      "no join" -> (p => !p.contains("Join")),
      // audited WITHOUT the registered query's presentation orderBy
      // (the llm_hash_split precedent): zero exchanges
      "zero exchanges" -> (p => !p.contains("Exchange"))))(
      SparkEntry.cdcChunksCore(spark, dir))

    audit("llm_cdc_dedup (one hash exchange on chunk_md5, partial agg)", Seq(
      "partial aggregation before the exchange" -> (_.contains("partial_")),
      "hash exchange on the chunk hash" ->
        (p => "hashpartitioning\\(chunk_md5#".r.findFirstIn(p).isDefined),
      "no text column crosses the exchange" ->
        (p => !"\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[[^\\]]*\\btext#"
          .r.findFirstIn(p).isDefined)))(
      SparkEntry.queries("llm_cdc_dedup")(spark, dir))

    // the DBSCAN ε-edge relation (r11 rebuild): the bucket join must be
    // a BROADCAST hash join at reference scale (the stats-gated hint —
    // auto-broadcast can't see through the explode), and the candidate
    // dedup must aggregate bare (a, b) long pairs, NOT the full
    // (id, features, hashes)² structs approxSimilarityJoin shuffles
    audit("m5 eps-edges (broadcast bucket join, pair-only dedup)", Seq(
      "broadcast bucket join (stats-gated hint took)" ->
        (_.contains("BroadcastHashJoin")),
      "dedup keys are the bare id pair" ->
        (p => "Keys \\[2\\]: \\[a#\\d+L, b#\\d+L\\]".r.findFirstIn(p).isDefined),
      // inspect each SHUFFLE exchange's Input (payload) list — the
      // struct-shuffle anti-pattern carries the vector as exchange
      // OUTPUT while partitioning on hash keys, so matching only the
      // hashpartitioning arguments could never catch it. Formatted
      // explain renders '(N) Exchange\nInput [k]: [cols...]'; the
      // intended BroadcastExchange of the vectors does NOT match.
      "no vector column in any shuffle exchange payload" ->
        (p => !"\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[[^\\]]*\\bf[ab]#"
          .r.findFirstIn(p).isDefined)))(
      graft.ml.Dbscan.epsEdges(
        Tables.table(spark, dir, "embeddings")
          .filter(org.apache.spark.sql.functions.col("vec_id") < 300)
          .select(
            org.apache.spark.sql.functions.col("vec_id").cast("long").as("id"),
            graft.ml.VectorOps.toMlVector(
              org.apache.spark.sql.functions.col("embedding")).as("features")),
        eps = 1.2))

    // r16: the SHUFFLE regime of the same join (corpus scale — the
    // broadcast gate declines, forced here via threshold=-1). The r15
    // occupancy-aware salting must leave its shape in the plan: the
    // tiny hot-set relation still BROADCASTS (the one documented
    // exception to the disabled threshold — it is bounded at
    // n·tables/hotBucketShard three-int rows), the bucket join keys
    // carry the shard column so a hot bucket's quadratic pair work
    // fans out over k tasks, and the B side carries the shard
    // fan-out Generate (replicate to k shards). Unlike the broadcast
    // regime, vectors DO ride these exchanges — that is the price of
    // the shuffle join, paid exactly once per side.
    locally {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        audit("m5 eps-edges SHUFFLE path (salted hot buckets)", Seq(
          "hot-set broadcast join survives threshold=-1" ->
            (_.contains("BroadcastHashJoin")),
          "bucket join shuffles on (entry, hv, shard)" ->
            (p => ("hashpartitioning\\(entry#\\d+, hv#\\d+, " +
              "shard#\\d+").r.findFirstIn(p).isDefined),
          "bucket join is a shuffle join (no full-side broadcast)" ->
            (p => p.contains("SortMergeJoin") ||
              p.contains("ShuffledHashJoin")),
          "B-side shard replication Generate present" ->
            (p => "\\(\\d+\\) Generate".r.findAllIn(p).nonEmpty &&
              p.contains("sequence(0"))))(
          graft.ml.Dbscan.epsEdges(
            Tables.table(spark, dir, "embeddings")
              .filter(org.apache.spark.sql.functions.col("vec_id") < 300)
              .select(
                org.apache.spark.sql.functions.col("vec_id").cast("long")
                  .as("id"),
                graft.ml.VectorOps.toMlVector(
                  org.apache.spark.sql.functions.col("embedding"))
                  .as("features")),
            eps = 1.2, hotBucketShard = 8))
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }

    // r16: the two r15 gate fusions, pinned. a23's exact set-algebra
    // counts: ONE events scan feeding a user-keyed partial/final agg
    // and a global reduce — exactly two exchanges, never the old
    // 4-scan/3-exchange cached-distinct + intersect form.
    audit("a23 exact-count gate (one scan, two exchanges)", Seq(
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1),
      "partial aggregation before exchange" -> (_.contains("partial_")),
      "exactly two exchanges (user-key + global reduce)" ->
        (p => "\\(\\d+\\) Exchange".r.findAllIn(p).size == 2)))(
      SparkEntry.a23ExactSetAgg(Tables.table(spark, dir, "events")))

    // a6's tie-aware rank gate: n + all six two-sided rank counts in
    // ONE orders scan (r15 fused from 7 scans), one global exchange.
    audit("a6 rank gate (one scan, one exchange)", Seq(
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1),
      "partial aggregation before exchange" -> (_.contains("partial_")),
      "single global-reduce exchange" ->
        (p => "\\(\\d+\\) Exchange".r.findAllIn(p).size == 1),
      "scan pruned to the quantile column" ->
        (p => p.contains("ReadSchema") && !p.contains("o_orderdate"))))(
      SparkEntry.a6RankGateAgg(Tables.table(spark, dir, "orders"),
        Seq(0.25, 0.5, 0.75), Seq(1000.0, 2000.0, 3000.0)))

    // r16 (re-gated r17): the prefix range aggregate (j7c) must never
    // enumerate point×interval pairs. r17 rebased the operator onto the
    // RangeAggPrefix plan, so the frame's OWN executed plan is the full
    // pipeline (no localCheckpoint indirection — the r16 advice noted
    // the old "no Join" check was vacuous against a checkpoint scan):
    // union → range exchange → sort → RangeAggPrefix → aggregate, and
    // no Join node anywhere.
    locally {
      import org.apache.spark.sql.functions.{col => c}
      val o = Tables.table(spark, dir, "orders")
      val intervals = o.filter(c("o_orderkey") % 97 === 0)
        .select(c("o_orderkey").as("interval_id"),
          (c("o_totalprice") - 2000.0).as("lo"),
          (c("o_totalprice") + 2000.0).as("hi"))
      val points = o.select(c("o_totalprice").as("price"))
      val out = graft.ops.RangeAgg.pointsInRangeAgg(points, "price",
        intervals, "interval_id", "lo", "hi")
      audit("j7c_range_agg_prefix (operator plans the prefix exec)", Seq(
        "RangeAggPrefix exec in plan" -> (_.contains("RangeAggPrefix")),
        "no join of any kind" -> (p => !p.contains("Join")),
        "range exchange feeds the prefix stitch" ->
          (_.contains("rangepartitioning"))))(out)
      val joinForm = SparkEntry.queries("j7_range_join")(spark, dir)
      val same = out.count() == joinForm.count()
      println(s"CHECK[j7c range-agg] row count equals join-form j7: " +
        (if (same) "OK" else "MISSING"))
    }

    // r17: the distinct-in-range operator (j7d) must also plan
    // join-free — interval-union merge (one keyed window), point
    // dedup, prefix stitch; never a pair join (its IEJoin+DISTINCT
    // truth enumerates 18.6B pairs at ×100 where this runs in 15 s)
    audit("j7d_range_distinct (merged-segment distinct, join-free)", Seq(
      "RangeAggPrefix exec in plan" -> (_.contains("RangeAggPrefix")),
      "no join of any kind" -> (p => !p.contains("Join")),
      "range exchange feeds the prefix stitch" ->
        (_.contains("rangepartitioning")),
      "per-key island window merges the bands" -> (_.contains("Window"))))(
      SparkEntry.queries("j7d_range_distinct")(spark, dir))

    // FULL OUTER is never broadcastable — both key sets must co-locate,
    // so the only correct plan is a shuffle join partitioned on the key
    audit("j8_full_outer_diff (shuffle full-outer join)", Seq(
      "full outer join type" -> (_.contains("FullOuter")),
      "shuffle join (sort-merge or shuffled-hash)" ->
        (p => p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
      "no broadcast of either side" ->
        (p => !p.contains("BroadcastExchange"))))(
      SparkEntry.queries("j8_full_outer_diff")(spark, dir))

    // the XML adapter must still be a columnar FILE scan under the
    // user-supplied schema (no sampling/inference pass at plan time),
    // and ordering must not inject an extra exchange beyond the one
    // range partition for the sort
    audit("s18_xml_roundtrip (xml file scan, explicit schema)", Seq(
      "xml scan in plan" -> (_.toLowerCase.contains("scan xml")),
      "no schema-inference extra scan (single scan node)" ->
        (p => "\\(\\d+\\) Scan ".r.findAllIn(p).size == 1)))(
      SparkEntry.queries("s18_xml_roundtrip")(spark, dir))

    // the statestore source is a DSv2 batch scan over the checkpoint —
    // the keys come off the store files directly (no stream replay: no
    // streaming nodes in the batch plan that reads the state back)
    // the SQL-UDF pair must be INLINED by Catalyst: the physical plan
    // carries the raw floor()/lpad() expressions (no function-call
    // boundary survives), so the query codegens like hand-written SQL
    audit("sql_udf_buckets (SQL UDFs inlined into the plan)", Seq(
      "udf body inlined (floor visible in plan)" ->
        (p => p.toLowerCase.contains("floor(")),
      // the name may survive as an attribute ALIAS (`AS rev_label#n`);
      // what must not appear is a call: `rev_label(...)`
      "no surviving udf-call boundary" ->
        (p => !p.contains("rev_bucket(") && !p.contains("rev_label(")),
      "partial aggregation before exchange" -> (_.contains("partial_"))))(
      SparkEntry.queries("sql_udf_buckets")(spark, dir))

    // collated equality must still be a HASH join — the collation key
    // is hashable, so case-insensitive matching costs one exchange,
    // never a nested loop
    audit("j9_collated_join (collated equality stays a hash join)", Seq(
      "equi-join strategy (broadcast/shuffled-hash/sort-merge)" ->
        (p => p.contains("BroadcastHashJoin") ||
          p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")),
      "no nested-loop fallback" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"))))(
      SparkEntry.queries("j9_collated_join")(spark, dir))

    // the correlated LATERAL aggregate must DECORRELATE: one join +
    // one aggregate, not a per-row subquery (nested loop) — the only
    // shape that survives 100 TB
    audit("j10_lateral_agg (lateral subquery decorrelated)", Seq(
      "decorrelated to a join" ->
        (p => p.contains("BroadcastHashJoin") ||
          p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")),
      "no nested-loop/cartesian execution" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct")),
      "aggregate pushed below the join (partial agg present)" ->
        (_.contains("partial_"))))(
      SparkEntry.queries("j10_lateral_agg")(spark, dir))

    // EqualNullSafe is a legal equi-join key: the NULL bucket hashes
    // like any other value — no nested-loop fallback for <=>
    audit("j11_nullsafe_join (<=> stays a hash join)", Seq(
      "equi-join strategy (broadcast/shuffled-hash/sort-merge)" ->
        (p => p.contains("BroadcastHashJoin") ||
          p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")),
      "no nested-loop fallback" ->
        (p => !p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"))))(
      SparkEntry.queries("j11_nullsafe_join")(spark, dir))

    audit("st12_statestore_read (DSv2 state scan, no replay)", Seq(
      "state source batch scan" ->
        (p => p.toLowerCase.contains("batchscan") &&
          p.toLowerCase.contains("statescan")),
      "no streaming relation in the read-back plan" ->
        (p => !p.contains("StreamingRelation"))))(
      SparkEntry.queries("st12_statestore_read")(spark, dir))

    // rank()<=k must run TWO-PHASE: in a vanilla session Spark's own
    // WindowGroupLimit (SPARK-37099) plans partial+final; under
    // GraftExtensions the TopKRewrite operator must match that shape —
    // a TopKPerGroupPartial node BELOW the group-key exchange caps
    // every mapper at k rows per group, so the shuffle carries
    // k·groups·mappers rows, never the table.
    // POSITIONAL gate (r12 review: presence-only checks could not
    // detect phase inversion): formatted node numbers grow from the
    // leaf up, so partial < exchange < final is exactly "the map-side
    // cap sits below the shuffle".
    audit("w1_top_per_group (two-phase TopKPerGroup)", Seq(
      "partial BELOW the group-key exchange BELOW the final" -> { p =>
        def node(re: String) =
          re.r.findFirstMatchIn(p).map(_.group(1).toInt)
        val partial = node("\\((\\d+)\\) TopKPerGroupPartial")
        val final_ = node("\\((\\d+)\\) TopKPerGroup\\n")
        val exch = node("\\((\\d+)\\) Exchange\\nInput[^\\n]*\\n" +
          "Arguments: hashpartitioning\\(event_type")
        (partial, exch, final_) match {
          case (Some(a), Some(b), Some(c)) => a < b && b < c
          case _ => false
        }
      }))(
      SparkEntry.queries("w1_top_per_group")(spark, dir))

    // RANGE frame: one hash exchange on user_id feeds BOTH frame
    // aggregates (count + decimal sum share the window spec — a second
    // exchange would mean Spark planned them as separate windows).
    audit("w8_range_frame (one exchange, shared window spec)", Seq(
      "window operator present" -> (_.contains("Window")),
      "exactly one hash exchange on the partition key" ->
        (p => "hashpartitioning\\(user_id".r.findAllIn(p).size >= 1 &&
          "\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2)))( // +1 for final sort
      SparkEntry.queries("w8_range_frame")(spark, dir))

    // Moment stats: ALL eight sums must ride one partial-agg pass —
    // the whole design is one scan, one tiny exchange, formulas on the
    // driver-side converged row.
    audit("a24_moment_stats (one partial-agg pass, single scan)", Seq(
      "partial aggregation before exchange" -> (_.contains("partial_")),
      "no join (single-table moments)" ->
        (p => !p.toLowerCase.contains("join")),
      "single parquet scan" ->
        (p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1)))(
      SparkEntry.queries("a24_moment_stats")(spark, dir))

    // Histogram: width_bucket is a per-row projection inside the scan
    // stage; the groupBy on the bucket keeps partial aggregation.
    audit("a25_histogram (bucket projection + partial agg)", Seq(
      "partial aggregation before exchange" -> (_.contains("partial_")),
      "width_bucket evaluated in the scan stage (no join/expand)" ->
        (p => !p.toLowerCase.contains("join") && !p.contains("Expand"))))(
      SparkEntry.queries("a25_histogram")(spark, dir))

    // Recursive CTE gap-fill: recursion must appear as a UnionLoop
    // (the driver-iterated anchor+step operator) over the DATE DOMAIN,
    // and the spine join must broadcast — the fact table is only ever
    // touched by the two pre-aggregations, never by the recursion.
    audit("sql_recursive_spine (UnionLoop recursion, broadcast gap-fill)", Seq(
      "UnionLoop drives the recursion" -> (_.contains("UnionLoop")),
      // no AQE fallback here: the initial adaptive plan already prints
      // the join strategy, and an `|| AdaptiveSparkPlan` escape would
      // make this gate vacuously true for every plan
      "gap-fill join broadcasts" -> (_.contains("BroadcastHashJoin")),
      "left outer (zero-fill) join" ->
        (_.toLowerCase.contains("leftouter"))))(
      SparkEntry.queries("sql_recursive_spine")(spark, dir))

    // Two-level bitmap distinct: BOTH aggregations must keep their
    // map-side partial phase — the whole point is that the exchange
    // carries (key, bucket, 4KB-bitmap) rows, not raw ids, and stage 2
    // pre-sums popcounts before its exchange too.
    audit("a21_bitmap_distinct (partial agg at both bitmap levels)", Seq(
      "partial bitmap_construct_agg before the first exchange" ->
        (_.contains("partial_bitmap_construct_agg")),
      "partial popcount sum before the second exchange" ->
        (_.contains("partial_sum")),
      "no expand/distinct fallback" -> (p => !p.contains("Expand"))))(
      SparkEntry.queries("a21_bitmap_distinct")(spark, dir))

    // Mergeable top-k sketches: shards build states under a partial
    // accumulate; the final combine+estimate runs over ONE exchange of
    // bounded sketch bytes (never raw per-key counts).
    audit("a22_topk_sketch (partial sketch accumulate, bounded merge)", Seq(
      "partial approx_top_k_accumulate before exchange" ->
        (_.contains("partial_approx_top_k_accumulate")),
      "single-partition final merge of sketch states" ->
        (_.contains("SinglePartition"))))(
      SparkEntry.queries("a22_topk_sketch")(spark, dir))

    // The transpose INPUT (the only distributed part) must still be a
    // proper two-phase aggregate; transpose itself is a driver pivot of
    // an already-bounded frame (5 event types), so the plan after it is
    // a LocalTableScan — rows never round-trip back to executors.
    audit("p15_transpose (agg input two-phase; result a local relation)", Seq(
      "transposed frame is a driver-local relation" ->
        (p => p.contains("LocalTableScan") || p.contains("LocalRelation")),
      "no exchange after the transpose" -> (!_.contains("Exchange"))))(
      SparkEntry.queries("p15_transpose")(spark, dir))

    // Provenance via _metadata must be FREE: constant-per-file fields
    // ride the scan and row_index materializes as ONE synthetic bigint
    // (`_tmp_metadata_row_index`) — no path-parsing projection, no join
    // against a listing, and crucially no REAL data column in the
    // ReadSchema (the parquet reader never touches the row groups'
    // payload pages for this query).
    audit("s19_metadata_cols (metadata ride the scan, zero data columns)", Seq(
      "scan reads only the synthetic row-index column" ->
        (_.contains("ReadSchema: struct<_tmp_metadata_row_index:bigint>")),
      "single scan, no join against a listing" ->
        (p => !p.toLowerCase.contains("join")),
      "partial aggregation before exchange" -> (_.contains("partial_"))))(
      SparkEntry.queries("s19_metadata_cols")(spark, dir))

    spark.stop()
  }
}
