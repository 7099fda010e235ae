package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.SQLFunctionExpression
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, ApproxTopKAccumulate, Count, Final, Min, Partial, Percentile, Sum}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Join => LJoin, LogicalPlan, Project => LProj}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanExecBase}
import org.apache.spark.sql.execution.datasources.v2.state.StateScan
import org.apache.spark.sql.execution.datasources.xml.XmlFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelationExec
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.core.Tables
import graft.expr._
import graft.plans.{RangeAggPrefixExec, RangeValueExtremaExec, TopKPerGroupExec}

/** Plan-shape guarantees of the audited frames at sf0.01: partial
  * aggregation, join-free prefix scans, two-phase top-k, pruned and
  * pushed scans. Each named check is a predicate over the typed plan
  * tree (see [[PlanShape]]); a frame fails with every check it misses
  * and its plan. Frames are read un-executed (AQE's initial plan)
  * unless a check needs the final one. */
class PlanShapeSpec extends SparkSpec {
  /** The sf0.01 fixture, beside the shared specs' sf0.001 one. */
  private val dir = sfDir.stripSuffix("sf0.001") + "sf0.01"

  private type Check = (String, PlanShape => Boolean)

  private def checks(shape: PlanShape)(cs: Check*): Unit = {
    val failed = cs.collect { case (what, ok) if !ok(shape) => what }
    assert(failed.isEmpty,
      s"missing: ${failed.mkString("; ")}\n$shape")
  }
  private def audit(df: => DataFrame)(cs: Check*): Unit =
    checks(PlanShape(df))(cs: _*)
  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
  private def table(name: String): DataFrame = Tables.table(spark, dir, name)

  // ---- shared predicates ------------------------------------------------
  private def noJoin(p: PlanShape) = p.joins.isEmpty
  private def noNestedLoop(p: PlanShape) =
    !p.has[BroadcastNestedLoopJoinExec] && !p.has[CartesianProductExec]
  private def bhj(p: PlanShape) = p.has[BroadcastHashJoinExec]
  private def smj(p: PlanShape) = p.has[SortMergeJoinExec]
  private def hashJoin(p: PlanShape) =
    bhj(p) || p.has[ShuffledHashJoinExec] || smj(p)
  private def noWindow(p: PlanShape) = !p.exists {
    case _: WindowExecBase | _: WindowGroupLimitExec => true
    case _ => false
  }
  private def window(p: PlanShape) = p.has[WindowExecBase]
  private def noGenerate(p: PlanShape) = !p.has[GenerateExec]
  private def noExchange(p: PlanShape) = !p.has[Exchange]
  private def noScalaUdf(p: PlanShape) = !p.hasExpr[ScalaUDF]
  private def toap(p: PlanShape) = p.has[TakeOrderedAndProjectExec]
  private def parquetScans(p: PlanShape) = p.fileScansOf[ParquetFileFormat].size
  /** The interpreted `aggregate(zip_with(...))` fold over two arrays. */
  private def noZipFold(p: PlanShape) =
    !p.existsExpr { case a: ArrayAggregate => a.argument.isInstanceOf[ZipWith] }
  private def rangeShuffle(p: PlanShape) = p.rangeShuffles().nonEmpty
  private def hashShuffle(p: PlanShape) = p.hashShuffles().nonEmpty
  private def prefixExecs(p: PlanShape) = p.of[RangeAggPrefixExec].size
  private def valueScans(p: PlanShape) = p.of[RangeValueExtremaExec].size
  /** The range sort is led by the synthetic equi-key column. */
  private def equiKeyLeads(p: PlanShape) = p.rangeShuffles("_graft_k0").nonEmpty
  /** Pass 2 of the two-pass prefix sum: Curation's mapPartitionsWithIndex
    * over the pinned RDD. */
  private def curationPass(p: PlanShape) = p.exists {
    case s: ExternalRDDScanExec[_] =>
      s.rdd.toString.contains(" at mapPartitionsWithIndex at Curation.scala:")
    case _ => false
  }
  /** A bounded fan-out: explode over a `sequence(...)`. */
  private def explodeSequence(p: PlanShape) = p.of[GenerateExec].exists(
    _.generator match {
      case e: ExplodeBase => e.child.isInstanceOf[Sequence]
      case _ => false
    })
  /** A column-vs-literal data filter of a file scan: the form the scan
    * pushes to its reader. */
  private def pushed(p: PlanShape)(f: PartialFunction[Expression, Attribute]) =
    p.fileScans.exists(_.dataFilters.exists(e => f.lift(e).isDefined))
  private def described(p: PlanShape, s: String) =
    p.scanDescriptions.exists(_.contains(s))
  private def readSchema(p: PlanShape, catalog: String) =
    p.fileScans.exists(_.requiredSchema.catalogString == catalog)
  /** An equi-join whose keys reference an attribute named `*part*`. */
  private def joinKeyedOn(p: PlanShape, part: String) = p.joins.exists(j =>
    (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name.contains(part))))
  /** No attribute with one of `names` crosses a shuffle. */
  private def shufflesCarryNo(p: PlanShape, names: String*) =
    !p.shuffles.exists(_.child.output.exists(a => names.contains(a.name)))
  private def fired(plan: LogicalPlan) =
    PlanShape.logicalExists(plan) { case _: LJoin => true } &&
      PlanShape.logicalExists(plan) { case _: LAgg => true }
  private def declined(plan: LogicalPlan) =
    !PlanShape.logicalExists(plan) { case _: LJoin => true }

  // ---- aggregates, scans, top-k ----------------------------------------

  test("q1_pricing: partial agg below the key exchange below the final agg") {
    val isAgg = (m: AggregateMode) => (n: SparkPlan) => n match {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == m)
      case _ => false
    }
    audit(q("q1_pricing"))(
      "partial aggregation before exchange" -> (_.partialAgg),
      "column-pruned read schema" ->
        (p => p.fileScans.nonEmpty && !p.attrNames.contains("l_shipdate")),
      "partial agg BELOW the key exchange BELOW the final agg" ->
        (p => p.chain(isAgg(Final),
          p.hashShuffles("l_returnflag").contains,
          isAgg(Partial))))
    // whole-stage codegen materializes only in the executed final plan
    checks(PlanShape.executed(q("q1_pricing")))(
      "whole-stage codegen (executed final plan)" ->
        (_.has[WholeStageCodegenExec]))
  }

  test("o3_topk: TakeOrderedAndProject, no global sort") {
    audit(q("o3_topk"))("TakeOrderedAndProject" -> toap)
  }

  test("o6_page: offset rides inside TakeOrderedAndProject") {
    audit(q("o6_page"))(
      "TakeOrderedAndProject" -> toap,
      "offset carried by the operator (limit 120 = offset 100 + 20)" ->
        (_.of[TakeOrderedAndProjectExec].exists(t =>
          t.limit == 120 && t.offset == 100)),
      "no standalone Sort node" -> (!_.has[SortExec]))
  }

  test("j1_semi_top: broadcast semi-join") {
    audit(q("j1_semi_top"))(
      "broadcast hash join" -> bhj,
      "left semi" -> (_.joinOfType(LeftSemi)))
  }

  test("j2_label_attach: broadcast equi-join") {
    audit(q("j2_label_attach"))("broadcast hash join" -> bhj)
  }

  test("p3_isin_nested: column pruning under an unpushable predicate") {
    audit(q("p3_isin_nested"))(
      "read schema pruned to event_id+props" ->
        (readSchema(_, "struct<event_id:bigint,props:string>")))
  }

  test("s11_schema_merge: one scan over heterogeneous shards") {
    audit(q("s11_schema_merge"))(
      "single json scan, no Union operator" ->
        (p => p.fileScansOf[JsonFileFormat].size == 1 && !p.has[UnionExec]),
      "no join" -> noJoin)
  }

  test("j4 scan: plain-column predicate pushed to parquet") {
    audit(table("embeddings").filter(col("vec_id") < 300))(
      "vec_id range pushed to parquet" -> (pushed(_) {
        case LessThan(a: Attribute, _: Literal) if a.name == "vec_id" => a
      }))
  }

  test("llm_exact_dedup: two-phase aggregation") {
    audit(q("llm_exact_dedup"))(
      "partial min/count" -> (_.partialAgg[Min]),
      "at most 2 exchanges in tree" -> (_.of[Exchange].size <= 2))
  }

  test("a13_cluster_stats: window shares the aggregate's shuffle") {
    audit(q("a13_cluster_stats"))(
      "one hash-partitioned exchange for label" -> hashShuffle)
  }

  test("a13b_argmin_rep: typed UDAF aggregates partially, no window") {
    audit(q("a13b_argmin_rep"))(
      "partial aggregation of the UDAF buffer" -> (_.partialAgg),
      "no Window operator" -> noWindow)
  }

  test("llm_near_dedup: native minhash kernel") {
    audit(q("llm_near_dedup"))(
      "native graft_minhash in plan" -> (_.hasExpr[MinHashSig]),
      "no CodegenFallback interpreted HOF on hot path" ->
        (p => !p.hasExpr[ArrayTransform] || p.hasExpr[MinHashSig]))
  }

  test("llm_cosine_topk: scan + TakeOrdered with the fused cosine kernel") {
    audit(q("llm_cosine_topk"))(
      "TakeOrderedAndProject" -> toap,
      "native fused cosine kernel" -> (_.hasExpr[GraftCosSim]),
      "no interpreted HOF fold" -> noZipFold)
  }

  test("llm_pq_topk: kernel encode + ADC scan, no join") {
    audit(q("llm_pq_topk"))(
      "TakeOrderedAndProject (ADC/rerank top-k)" -> toap,
      "native nn_topk encode kernel in plan" -> (_.hasExpr[NnTopK]),
      "native fused cosine rerank kernel" -> (_.hasExpr[GraftCosSim]),
      "no join operator anywhere" -> noJoin,
      "no ScalaUDF" -> noScalaUdf)
  }

  test("m3_knn_curve: native matrix heap-select kernel") {
    audit(q("m3_knn_curve"))(
      "native graft_nn_topk in plan" -> (_.hasExpr[NnTopK]),
      "no interpreted HOF fold" -> noZipFold)
  }

  test("m3_knn_curve_approx: id-only candidates, broadcast vector attach") {
    audit(q("m3_knn_curve_approx"))(
      "vector attach is broadcast, not sort-merge" -> (p => bhj(p) && !smj(p)),
      "native graft_l2_dist in plan" -> (_.hasExpr[GraftL2Dist]),
      "no interpreted HOF fold" -> noZipFold)
  }

  test("j4_eps_self_join: native dot kernel") {
    audit(q("j4_eps_self_join"))("native graft_dot in plan" -> (_.hasExpr[GraftDot]))
  }

  // ---- curation layer ----------------------------------------------------

  test("llm_decontaminate: eval grams broadcast, train side unshuffled") {
    audit(q("llm_decontaminate"))(
      "eval-gram side is a BroadcastExchange" -> (_.has[BroadcastExchangeLike]),
      "gram join is broadcast, not sort-merge" ->
        (p => p.joins.exists(j => j.isInstanceOf[BroadcastHashJoinExec] &&
          j.joinType == Inner) && !smj(p)),
      "8-byte hash join key (xxhash64), not gram strings" -> (_.hasExpr[XxHash64]))
  }

  test("llm_decontaminate_scan: kernel form, no explode, no join") {
    val docs = table("documents")
    audit(graft.dedup.Curation.decontaminateScan(docs,
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 8))(
      "no Generate (gram explode) anywhere" -> noGenerate,
      "no join operator anywhere" -> noJoin,
      "native graft_gram_hits in plan" -> (_.hasExpr[GramHits]),
      "no ScalaUDF in the scan plan" -> noScalaUdf,
      "single scan of documents" -> (parquetScans(_) <= 1))
  }

  test("llm_winnow_fingerprint: native kernel, no join") {
    audit(q("llm_winnow_fingerprint"))(
      "native graft_winnow in plan" -> (_.hasExpr[GraftWinnow]),
      "no join operator anywhere" -> noJoin)
  }

  // the doc_id-sorted fan-out sites: the range fan-out is the sort's own
  // exchange, so the per-row kernel runs in one map stage (a hash
  // fan-out under the sort made two exchanges, each running it)
  Seq("llm_winnow_fingerprint", "llm_winnow_kr_fingerprint",
      "f7_tokenize_full", "f16_hof_map").foreach { name =>
    test(s"$name: one Exchange, range-partitioned on doc_id, at sf0.001") {
      checks(PlanShape(SparkEntry.queries(name)(spark, sfDir)))(
        "exactly one Exchange" -> (_.of[Exchange].size == 1),
        "range-partitioned on doc_id" -> (_.rangeShuffles("doc_id").size == 1))
    }
  }

  test("llm_winnow_kr_core: rolling-hash kernel, zero shuffle") {
    audit(q("llm_winnow_kr_core"))(
      "native graft_winnow_kr in plan" ->
        (_.existsExpr { case w: GraftWinnow => w.kr }),
      "no Exchange anywhere" -> noExchange,
      "no join operator anywhere" -> noJoin)
  }

  test("llm_charlm_nll_scan: kernel form, no explode, no join, no UDF") {
    audit(q("llm_charlm_nll_scan"))(
      "no Generate (position explode) in the scoring plan" -> noGenerate,
      "no join operator anywhere" -> noJoin,
      "native graft_charlm_nll in plan" -> (_.hasExpr[CharLmNll]),
      "no ScalaUDF in the scoring plan" -> noScalaUdf)
  }

  test("llm_bpe_doc_tokens: one projection pass") {
    audit(q("llm_bpe_doc_tokens"))(
      "native graft_bpe_count in plan" -> (_.hasExpr[BpeCount]),
      "no Generate (word explode) anywhere" -> noGenerate,
      "no join operator anywhere" -> noJoin,
      "no ScalaUDF in the counting plan" -> noScalaUdf,
      "at most 1 exchange (ordering only)" -> (_.of[Exchange].size <= 1))
  }

  test("llm_bpe_encode: distinct is the only wide op") {
    audit(q("llm_bpe_encode"))(
      "native graft_bpe_encode in plan" -> (_.hasExpr[BpeEncode]),
      "distinct shuffle keyed on word" -> (_.hashShuffles("word").nonEmpty),
      "no ScalaUDF in the encode plan" -> noScalaUdf)
  }

  test("llm_global_line_dedup: aggregated first occurrence, no hot-line window") {
    audit(q("llm_global_line_dedup"))(
      "map-side partial min before exchange" -> (_.partialAgg[Min]),
      "no Window operator" -> noWindow)
  }

  test("llm_boilerplate_strip: partial count + broadcast boiler set") {
    audit(q("llm_boilerplate_strip"))(
      "map-side partial count before exchange" -> (_.partialAgg[Count]),
      "boilerplate set joins back as broadcast" -> bhj,
      "no Window operator" -> noWindow,
      "no sort-merge join of the corpus on the line key" -> (!smj(_)))
  }

  test("llm_token_pack: two-pass prefix sum, no global window") {
    audit(q("llm_token_pack"))(
      "no single-partition Window operator" -> noWindow,
      "pass-2 is the Curation mapPartitions pass over the pinned RDD" -> curationPass)
  }

  test("llm_seq_pack: two-pass prefix sum + bounded window fan-out") {
    audit(q("llm_seq_pack"))(
      "no single-partition Window operator" -> noWindow,
      "pass-2 is the Curation mapPartitions pass over the pinned RDD" -> curationPass,
      "window fan-out is a Generate over the bounded sequence" -> explodeSequence)
  }

  test("llm_dup_groups: small-regime CC attaches labels by broadcast") {
    audit(q("llm_dup_groups"))(
      "label table attaches via broadcast join" -> bhj,
      "corpus ids never shuffle for the attach (no sort-merge join)" -> (!smj(_)),
      "group sizes aggregated with a hash-partitioned exchange" -> hashShuffle)
  }

  test("llm_repetition: partial agg before exchange") {
    audit(q("llm_repetition"))(
      "map-side partial aggregation" -> (_.partialAgg),
      "no interpreted HOF fold" -> noZipFold)
  }

  test("llm_corpus_shuffle: two-pass positions, no global window") {
    audit(q("llm_corpus_shuffle"))(
      "no single-partition Window operator" -> noWindow,
      "pass-2 is the Curation mapPartitions pass over the pinned RDD" -> curationPass)
  }

  test("j5_asof_join: union sweep, no join operator") {
    audit(q("j5_asof_join"))(
      "no join operator anywhere" -> noJoin,
      "running window frame (unbounded preceding)" -> (_.existsExpr {
        case f: SpecifiedWindowFrame => f.lower == UnboundedPreceding
      }))
  }

  test("llm_corpus_report: aggregate first, one scan") {
    audit(q("llm_corpus_report"))(
      "map-side partial aggregation" -> (_.partialAgg),
      "no Window operator" -> noWindow,
      "no join operator anywhere" -> noJoin,
      "single scan of documents" -> (parquetScans(_) <= 1))
  }

  test("llm_heavy_hitters recount: candidate filter before the shuffle") {
    audit(graft.ops.HeavyHitters.heavyHitters(table("documents"), "text", 100))(
      "candidate isin filter in the plan" -> (_.of[FilterExec].exists(
        _.condition.exists {
          case In(a: Attribute, _) => a.name == "token"
          case InSet(a: Attribute, _) => a.name == "token"
          case _ => false
        })),
      "partial agg before the exchange" -> (_.partialAgg),
      "no join operator (candidates are a literal IN-list)" -> noJoin)
  }

  test("llm_unimax_sample core: heap cap, one corpus exchange, broadcast quotas") {
    audit(graft.dedup.Curation.unimaxSample(
        table("documents").select("doc_id", "source"),
        "doc_id", "source", budget = 60))(
      "TopKPerGroup operator planned" -> (_.has[TopKPerGroupExec]),
      "single hash exchange of the corpus (trim reuses the clustering)" ->
        (_.hashShuffles().size <= 2),
      "quota table broadcast (no shuffle join)" -> (p => bhj(p) && !smj(p)))
  }

  test("llm_chunk_overlap core: scan + Generate, zero shuffle") {
    audit(graft.text.Chunk.slidingChunks(
        table("documents"), "doc_id", "text", 64, 48))(
      "no Exchange anywhere" -> noExchange,
      "no join operator anywhere" -> noJoin,
      "chunk fan-out is a Generate over the bounded sequence" -> explodeSequence,
      "single scan of documents" -> (parquetScans(_) <= 1))
  }

  test("llm_token_fertility: one scan, scalar kernels, partial agg") {
    audit(q("llm_token_fertility"))(
      "map-side partial aggregation" -> (_.partialAgg),
      "no join operator anywhere" -> noJoin,
      "no Generate (token explode) anywhere" -> noGenerate,
      "single scan of documents" -> (parquetScans(_) <= 1))
  }

  test("llm_hash_split core: pure projection, zero shuffle") {
    audit(graft.dedup.Curation.hashSplit(
        table("documents").select("doc_id"), "doc_id"))(
      "no Exchange anywhere" -> noExchange,
      "no Window" -> noWindow)
  }

  test("a6_describe_all: one shared array-form percentile buffer") {
    def quartiles(p: Percentile) = p.percentageExpression match {
      case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData, _) =>
        a.toDoubleArray().toSeq == Seq(0.25, 0.5, 0.75)
      case _ => false
    }
    audit(q("a6_describe_all"))(
      "array-form percentile [0.25,0.5,0.75] in plan" ->
        (_.existsExpr { case p: Percentile => quartiles(p) }),
      "no scalar-literal percentile buffers" -> (!_.existsExpr {
        case p: Percentile =>
          !p.percentageExpression.dataType.isInstanceOf[ArrayType]
      }))
  }

  test("llm_curation_pipeline: packing stage keeps its shape") {
    audit(q("llm_curation_pipeline"))(
      "no single-partition Window operator" -> noWindow,
      "shard packing is the pinned mapPartitions pass" -> curationPass,
      "per-shard stats aggregate behind a hash exchange" -> hashShuffle)
  }

  test("llm_curation_pipeline pre-pack stages: scan-form decontamination") {
    // the registered query's plan starts at tokenPack's pinned RDD, so the
    // upstream stages are gated on the pre-pack frame itself
    audit(SparkEntry.curationPipelineTrain(spark, dir))(
      "decontamination is the scan kernel (gram_hits in plan)" ->
        (_.hasExpr[GramHits]),
      "no gram explode (Generate) anywhere in the composed stages" -> noGenerate,
      "no gram-hash join (the only joins are the doc_id semi-joins)" ->
        (!_.attrNames.contains("gram_h")),
      "no Window operator in the composed stages" -> noWindow,
      "doc_id semi-joins broadcast (no shuffle of the corpus side)" -> bhj)
  }

  test("llm_semantic_dedup pair stage: cluster-keyed, never all-pairs") {
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val (assigned, pairs) = graft.dedup.Similarity.semanticDedupPairs(
      embDf, "vec_id", "embedding", k = 16, threshold = 0.9,
      fitCap = 100000L, maxClusterSize = 100000, seed = 42L)
    try audit(pairs)(
      "pair join keys on the cluster id (_cell hash exchange)" ->
        (_.hashShuffles("_cell").nonEmpty),
      "no cartesian / nested-loop join" -> noNestedLoop)
    finally assigned.unpersist(blocking = false)
  }

  test("llm_contamination_report: scan-flag first, explode only on hits") {
    audit(q("llm_contamination_report"))(
      "phase-1 flagging is the scan kernel (gram_hits in plan)" ->
        (_.hasExpr[GramHits]),
      // the flagged-subset explode and the tiny eval-side explode
      "exactly two Generates (flagged subset + eval side)" ->
        (_.of[GenerateExec].size == 2),
      "train-side explode is gated by the LeftSemi flag join" ->
        (_.joinOfType(LeftSemi)),
      "eval grams broadcast (BroadcastHashJoin on gram_h)" -> bhj)
  }

  test("llm_quality_percentile: global statistic becomes a scan filter") {
    audit(q("llm_quality_percentile"))(
      "no join operator anywhere" -> noJoin,
      "no Window operator" -> noWindow,
      "threshold applied as a Filter (no aggregation in the final plan)" ->
        (p => p.has[FilterExec] && !p.has[BaseAggregateExec]))
  }

  test("llm_perplexity_buckets: global terciles, one kernel scan") {
    audit(q("llm_perplexity_buckets"))(
      "native graft_charlm_nll kernel in plan" -> (_.hasExpr[CharLmNll]),
      "no join operator anywhere" -> noJoin,
      "no Generate (position explode)" -> noGenerate,
      "no ScalaUDF" -> noScalaUdf)
  }

  test("llm_exact_substr: window counts partial-aggregated, linear rebuild") {
    audit(q("llm_exact_substr"))(
      "map-side partial aggregation on the window hash" -> (_.partialAgg),
      "no Window operator (rebuild is a fold projection)" -> noWindow,
      "windows keyed on xxhash64, not the string" -> (_.hasExpr[XxHash64]))
  }

  test("llm_dsir_weights core: model as a literal, pure projection") {
    val docs = table("documents")
    audit(graft.dedup.Curation.dsirWeights(docs,
        docs.filter(col("source") === "src0"), "doc_id", "text"))(
      "no join operator anywhere" -> noJoin,
      "no Generate (gram explode) in the scoring pass" -> noGenerate,
      "no Exchange anywhere (zero shuffle)" -> noExchange,
      "native graft_dsir_logw in plan" -> (_.hasExpr[DsirLogW]),
      "no interpreted aggregate fold" -> (!_.hasExpr[ArrayAggregate]),
      "no ScalaUDF" -> noScalaUdf)
  }

  test("llm_dsir_select: Gumbel top-k, no global sort") {
    audit(q("llm_dsir_select"))(
      "TakeOrderedAndProject" -> toap,
      "no join operator anywhere" -> noJoin,
      "no Exchange anywhere (zero shuffle)" -> noExchange)
  }

  test("llm_stratified_sample: native per-group heap, no full sort") {
    audit(q("llm_stratified_sample"))(
      "TopKPerGroup operator planned" -> (_.has[TopKPerGroupExec]),
      "no global Sort of the corpus by the md5 key" ->
        (_.rangeShuffles("h").isEmpty))
  }

  test("llm_bm25_topk: pruned explode, broadcast idf, heap top-k") {
    audit(q("llm_bm25_topk"))(
      "array pruned before explode (filter inside Generate)" ->
        (_.of[GenerateExec].exists(_.generator match {
          case e: ExplodeBase => e.child.isInstanceOf[ArrayFilter]
          case _ => false
        })),
      "idf side broadcast" -> bhj,
      "no sort-merge join" -> (!smj(_)),
      "top-k is TakeOrderedAndProject" -> toap)
  }

  // ---- grouping sets, windows, joins -----------------------------------

  test("a16_rollup: single Expand, one aggregation, no Union") {
    audit(q("a16_rollup"))(
      "Expand operator" -> (_.has[ExpandExec]),
      "partial aggregation" -> (_.partialAgg),
      "no Union of per-level scans" -> (!_.has[UnionExec]),
      "single parquet scan" -> (parquetScans(_) == 1))
  }

  test("p12_unpivot: Expand projection, no join or aggregate") {
    audit(q("p12_unpivot"))(
      "Expand operator" -> (_.has[ExpandExec]),
      "no join" -> noJoin,
      "no aggregate" -> (!_.has[BaseAggregateExec]))
  }

  test("j5b_asof_forward: single-exchange union sweep") {
    audit(q("j5b_asof_forward"))(
      "window sweep (no range/theta join)" -> (p => window(p) && noNestedLoop(p)),
      "exactly one hash exchange on the key" ->
        (p => p.hashShuffles("user_id").nonEmpty && !smj(p)))
  }

  test("w2_lag_delta: keyed window") {
    audit(q("w2_lag_delta"))(
      "window over user_id hash exchange" ->
        (p => window(p) && p.hashShuffles("user_id").nonEmpty),
      "no join" -> noJoin)
  }

  test("sql_not_in: null-aware anti join stays a hash join") {
    audit(q("sql_not_in"))(
      "left anti join" -> (_.joinOfType(LeftAnti)),
      "hash join (no nested loop)" ->
        (p => bhj(p) && !p.has[BroadcastNestedLoopJoinExec]))
  }

  test("j6_anti_join: broadcast anti-join") {
    audit(q("j6_anti_join"))(
      "broadcast hash join" -> bhj,
      "left anti" -> (_.joinOfType(LeftAnti)),
      "no sort-merge of the big side" -> (!smj(_)))
  }

  // ---- range rewrites ----------------------------------------------------

  test("j7_range_join: binned equi-join, no nested loop") {
    // the raw frame under the aggPrefix-off scope the registry query pins
    SparkEntry.withAggPrefixOff(spark) {
      audit(SparkEntry.rangeJoinAggFrame(spark, dir))(
        "no BroadcastNestedLoopJoin" -> (!_.has[BroadcastNestedLoopJoinExec]),
        "no CartesianProduct" -> (!_.has[CartesianProductExec]),
        "equi-join on the bin key" -> (joinKeyedOn(_, "_bin")),
        "containment filter after the join" -> (_.has[FilterExec]))
    }
  }

  test("j7b_range_join_auto: aggregate over a band join plans the join-free prefix") {
    SparkEntry.withRangeJoinWidth(spark, "4000.0") {
      audit(SparkEntry.bandJoinNaive(spark, dir))(
        "join-free prefix operator planned" -> (_.has[RangeAggPrefixExec]),
        "NO join of any kind (pairs never enumerated)" -> noJoin,
        "one range exchange feeds the prefix stitch" -> rangeShuffle,
        "no bin replication (prefix replaced the bin join)" ->
          (!_.attrNames.exists(_.startsWith("_graft_bin"))))
      // the bin-join rewrite still owns the declined-aggregate shapes
      graft.core.Util.withConfs(spark,
          Seq("spark.graft.rangeJoin.aggPrefix" -> "false")) {
        audit(SparkEntry.bandJoinNaive(spark, dir))(
          "no BroadcastNestedLoopJoin" -> (!_.has[BroadcastNestedLoopJoinExec]),
          "no CartesianProduct" -> (!_.has[CartesianProductExec]),
          "rewritten bin key present" -> (joinKeyedOn(_, "_graft_bin")),
          "band filter kept after the bin join" -> (_.has[FilterExec]))
      }
    }
  }

  test("j7c_range_agg_prefix: the operator plans the prefix exec") {
    val o = table("orders")
    val intervals = o.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("interval_id"),
        (col("o_totalprice") - 2000.0).as("lo"),
        (col("o_totalprice") + 2000.0).as("hi"))
    val points = o.select(col("o_totalprice").as("price"))
    val out = graft.ops.RangeAgg.pointsInRangeAgg(points, "price",
      intervals, "interval_id", "lo", "hi")
    audit(out)(
      "RangeAggPrefix exec in plan" -> (_.has[RangeAggPrefixExec]),
      "no join of any kind" -> noJoin,
      "range exchange feeds the prefix stitch" -> rangeShuffle)
    assert(out.count() == q("j7_range_join").count(),
      "row count equals join-form j7")
  }

  test("j7d_range_distinct: merged-segment distinct, join-free") {
    audit(q("j7d_range_distinct"))(
      "RangeAggPrefix exec in plan" -> (_.has[RangeAggPrefixExec]),
      "no join of any kind" -> noJoin,
      "range exchange feeds the prefix stitch" -> rangeShuffle,
      "per-key island window merges the bands" -> window)
  }

  test("j7e_keyed_range_agg: equi + band plans the keyed prefix") {
    audit(q("j7e_keyed_range_agg"))(
      "join-free keyed prefix operator planned" -> (_.has[RangeAggPrefixExec]),
      "NO join of any kind (per-key pairs never enumerated)" -> noJoin,
      "equi key leads the range sort" -> equiKeyLeads,
      "one range exchange feeds the prefix stitch" -> rangeShuffle)
  }

  test("j7f_range_extrema: one join-free value scan") {
    audit(q("j7f_range_extrema"))(
      "exactly one RangeValueExtrema scan" -> (valueScans(_) == 1),
      "range exchange feeds the scan" -> rangeShuffle,
      "no nested loop / cartesian anywhere" -> noNestedLoop)
  }

  test("j7g_keyed_extrema: one keyed value scan") {
    audit(q("j7g_keyed_extrema"))(
      "exactly one RangeValueExtrema scan" -> (valueScans(_) == 1),
      "equi key leads the range sort" -> equiKeyLeads,
      "range exchange feeds the scan" -> rangeShuffle,
      "no nested loop / cartesian anywhere" -> noNestedLoop)
  }

  test("j7h_interval_overlap: three one-sided prefix counts") {
    audit(q("j7h_interval_overlap"))(
      "three RangeAggPrefix counts planned (total/below/above)" ->
        (prefixExecs(_) >= 3),
      "range exchanges feed the stitches" -> rangeShuffle,
      "no interval join of the two sides" -> (p => noNestedLoop(p) && !smj(p)))
  }

  test("j7h_keyed_overlap: three keyed one-sided prefix counts") {
    audit(q("j7h_keyed_overlap"))(
      "three RangeAggPrefix counts planned (total/below/above)" ->
        (prefixExecs(_) >= 3),
      "equi key leads the range sorts" -> equiKeyLeads,
      "range exchanges feed the stitches" -> rangeShuffle,
      "no interval join of the two sides" -> (p => noNestedLoop(p) && !smj(p)))
  }

  test("j7h_overlap_auto: the naive overlap join plans prefix frames") {
    audit(q("j7h_overlap_auto"))(
      "three RangeAggPrefix frames planned" -> (prefixExecs(_) >= 3),
      "no nested loop / cartesian (pairs never enumerated)" -> noNestedLoop,
      "range exchanges feed the stitches" -> rangeShuffle)
  }

  // overlap length: the two-sided frames of the older six-frame form are
  // exact differences of the one-sided ones, so exactly four stay
  test("j7i_overlap_len: four prefix frames, no interval join") {
    audit(q("j7i_overlap_len"))(
      "four one-sided RangeAggPrefix frames planned (not six)" ->
        (prefixExecs(_) == 4),
      "range exchanges feed the stitches" -> rangeShuffle,
      "instance ids content-derived (window, no checkpoint scan)" ->
        (p => p.hasExpr[RowNumber] && !p.has[RDDScanExec]),
      "no nested loop / cartesian anywhere" -> noNestedLoop)
  }

  test("j7i_keyed_len: four keyed prefix frames") {
    audit(q("j7i_keyed_len"))(
      "four one-sided RangeAggPrefix frames planned (not six)" ->
        (prefixExecs(_) == 4),
      "equi key leads the range sorts" -> equiKeyLeads,
      "instance ids content-derived (window, no checkpoint scan)" ->
        (p => p.hasExpr[RowNumber] && !p.has[RDDScanExec]),
      "no nested loop / cartesian anywhere" -> noNestedLoop)
  }

  test("j7j_value_extrema: one join-free range-value scan") {
    audit(q("j7j_value_extrema"))(
      "RangeValueExtrema exec planned" -> (valueScans(_) >= 1),
      "ONE scan answers both extremes" -> (valueScans(_) == 1),
      "range exchange feeds the scan" -> rangeShuffle,
      "no join of any kind (pairs never enumerated)" -> noJoin)
  }

  test("j7j_value_extrema_auto: a band join auto-plans the value scan") {
    audit(q("j7j_value_extrema_auto"))(
      "RangeValueExtrema scan planned" -> (valueScans(_) >= 1),
      "count frame carries membership (nullable f)" -> (_.has[RangeAggPrefixExec]),
      "no nested loop / cartesian (pairs never enumerated)" -> noNestedLoop,
      "range exchanges feed scan + frame" -> rangeShuffle)
  }

  test("j7k_keyed_value_extrema: one keyed range-value scan") {
    audit(q("j7k_keyed_value_extrema"))(
      "ONE RangeValueExtrema scan" -> (valueScans(_) == 1),
      "equi key leads the range sort" -> equiKeyLeads,
      "range exchange feeds the scan" -> rangeShuffle,
      "no join of any kind" -> noJoin)
  }

  // ---- DedupComputeRewrite ----------------------------------------------

  test("j3b_dedup_auto: the rule hoists the kernel behind a distinct") {
    SparkEntry.withDedupCompute(spark) {
      // per distinct key, not per row, is a logical-tree property: every
      // kernel site sits in or above the distinct Aggregate
      val oplan = SparkEntry.dedupNaiveProjection(spark, dir)
        .queryExecution.optimizedPlan
      def kernel(e: Expression) = e.exists(_.isInstanceOf[GraftLevenshtein])
      val sites = oplan.collect {
        case ag: LAgg if ag.aggregateExpressions.exists(kernel) => true
        case pr: LProj if pr.projectList.exists(kernel) =>
          pr.child.exists(_.isInstanceOf[LAgg])
      }
      audit(SparkEntry.dedupNaiveProjection(spark, dir))(
        "join-back present (hash join)" -> hashJoin,
        "distinct aggregate in the compute branch" ->
          (p => p.has[HashAggregateExec] || p.has[ObjectHashAggregateExec]),
        "kernel evaluated per distinct key, not per row" ->
          (p => p.hasExpr[GraftLevenshtein] && sites.nonEmpty &&
            sites.forall(identity)),
        "no cartesian / nested loop" -> noNestedLoop)
    }
  }

  private val longRef = "tok0 tok1 " * 120
  private def docsFixture(write: DataFrame => Unit): Unit =
    write(spark.range(10000).selectExpr("id",
      "repeat(concat('tok', cast(id % 10 as string), ' '), 240) AS text",
      "concat(repeat('pad ', 300), cast(id as string)) AS utext"))
  private def kernelPlan(tbl: DataFrame, fn: String, c: String, ref: String) =
    tbl.select(col("id"), call_function(fn, col(c), lit(ref)).as("r"))
      .queryExecution.optimizedPlan

  // cost-based gating on ANALYZE'd statistics: fire on the win regime,
  // decline the measured loss regimes (PLANS.md calibration `dedupc`)
  test("dedup_cost_auto: the rewrite fires on the win regime and declines the losses") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    graft.core.Util.withConfs(spark, Seq("spark.sql.cbo.enabled" -> "true")) {
      graft.core.Util.dropTableAndLocation(spark, "dcr_audit_r13")
      try {
        docsFixture(_.write.mode("overwrite").saveAsTable("dcr_audit_r13"))
        spark.sql("ANALYZE TABLE dcr_audit_r13 COMPUTE STATISTICS " +
          "FOR COLUMNS text, utext")
        val tbl = spark.table("dcr_audit_r13")
        assert(fired(kernelPlan(tbl, "graft_seq_ratio", "text", longRef)),
          "fires on win regime (dup 1000 x pairwise kernel, long-vs-long)")
        assert(declined(kernelPlan(tbl, "graft_levenshtein", "text", longRef)),
          "declines cheap kernel (measured loss)")
        assert(declined(kernelPlan(tbl, "graft_seq_ratio", "utext", longRef)),
          "declines near-unique key (no savings)")
        assert(declined(kernelPlan(tbl, "graft_seq_ratio", "text", "tok0 tok1")),
          "declines short reference (per-char-pair cost)")
        // the registry query's own projection exercises the fired plan
        assert(fired(SparkEntry.j3cAutoProjection(spark).queryExecution.optimizedPlan),
          "j3c auto-fired in the registry query (stats only, no conf force)")
      } finally graft.core.Util.dropTableAndLocation(spark, "dcr_audit_r13")
    }
  }

  // the stats-less fallback: plain parquet, no ANALYZE, cbo off
  test("dedup_cost_probe: the live probe fires on the win regime and declines a unique key") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_dcr_probe_audit")
    try {
      val p = root.resolve("docs").toString
      docsFixture(_.write.mode("overwrite").parquet(p))
      val tbl = spark.read.parquet(p)
      assert(fired(kernelPlan(tbl, "graft_seq_ratio", "text", longRef)),
        "stats-less parquet fires via the live probe on the win regime")
      assert(declined(kernelPlan(tbl, "graft_seq_ratio", "utext", longRef)),
        "probe measures the near-unique key and declines")
    } finally graft.core.Util.deleteRecursively(root)
  }

  test("llm_fuzzy_join: length-blocked, no cross product") {
    audit(q("llm_fuzzy_join"))(
      "no CartesianProduct" -> (!_.has[CartesianProductExec]),
      "no BroadcastNestedLoopJoin" -> (!_.has[BroadcastNestedLoopJoinExec]),
      "levenshtein kernel decides candidates" -> (_.hasExpr[GraftLevenshtein]))
  }

  test("a17_pivot: single aggregation, no value-discovery scan") {
    audit(q("a17_pivot"))(
      "partial aggregation" -> (_.partialAgg),
      "single parquet scan" -> (parquetScans(_) == 1),
      "no join" -> noJoin)
  }

  test("a18_cube: single Expand, one aggregation, no Union") {
    audit(q("a18_cube"))(
      "Expand operator" -> (_.has[ExpandExec]),
      "partial aggregation" -> (_.partialAgg),
      "no Union of per-level scans" -> (!_.has[UnionExec]),
      "single parquet scan" -> (parquetScans(_) == 1))
  }

  test("w3_rolling_sum: keyed window, bounded frame") {
    audit(q("w3_rolling_sum"))(
      "window over user_id hash exchange" ->
        (p => window(p) && p.hashShuffles("user_id").nonEmpty),
      "no join" -> noJoin)
  }

  test("w4_ntile: one window exchange for both ranks") {
    audit(q("w4_ntile"))(
      "single window exchange on event_type" ->
        (_.hashShuffles("event_type").size == 1),
      "no join" -> noJoin)
  }

  test("w5_sessionize: lag and running sum share one exchange") {
    audit(q("w5_sessionize"))(
      "single hash exchange on user_id" -> (_.hashShuffles("user_id").size == 1),
      "no join" -> noJoin)
  }

  test("llm_cms_counts build: partial sketch agg, no token shuffle") {
    audit(SparkEntry.cmsSketchAgg(spark, dir))(
      "partial aggregation (map-side sketch fold)" -> (_.partialAgg),
      "no join" -> noJoin,
      "single parquet scan" -> (parquetScans(_) == 1))
  }

  // ---- sources -----------------------------------------------------------

  test("s15_partitioned_scan: directory-level partition pruning") {
    audit(q("s15_partitioned_scan"))(
      "PartitionFilters carries the event_type predicate" ->
        (_.fileScans.exists(_.partitionFilters.exists(
          _.references.exists(_.name == "event_type")))),
      "no post-scan filter on event_type" -> (!_.of[FilterExec].exists(
        _.condition.references.exists(_.name == "event_type"))),
      "partial aggregation" -> (_.partialAgg))
  }

  test("s14_orc_roundtrip: filter pushed to the ORC scan") {
    audit(q("s14_orc_roundtrip"))(
      "ORC scan present" -> (_.fileScansOf[OrcFileFormat].nonEmpty),
      "quantity bound pushed" -> (pushed(_) {
        case GreaterThan(a: Attribute, _: Literal) if a.name == "l_quantity" => a
      }),
      "partial aggregation" -> (_.partialAgg))
  }

  private def scanColumns(p: PlanShape): Seq[Seq[String]] =
    p.of[BatchScanExec].map(_.scan.readSchema().fieldNames.toSeq)

  test("s13_dsv2_scan: range pushed into the custom source") {
    audit(q("s13_dsv2_scan"))(
      "pushed range in scan description" -> (described(_, "pushedRange=[25000,50000)")),
      "columns pruned to lang+n_chars" ->
        (p => scanColumns(p).nonEmpty && scanColumns(p).forall(!_.contains("doc_id"))),
      "partial aggregation" -> (_.partialAgg))
  }

  test("s22b_topn_desc_push: DESC TopN fully pushed") {
    audit(q("s22b_topn_desc_push"))(
      "range narrowed to the last k" -> (described(_, "pushedRange=[24993,25000)")),
      "reversed emission marked" -> (described(_, "order=desc")),
      "no Spark-side TopN" -> (p => !toap(p) && !p.has[SortExec]))
  }

  test("s23b_agg_push_minmax: grouped min/max pushed complete") {
    audit(q("s23b_agg_push_minmax"))(
      "complete aggregate pushdown" -> (described(_, "pushedAggregation=complete")),
      "filtered range composed in" -> (described(_, "pushedRange=[123,4567)")),
      "no Spark-side aggregate" -> (!_.has[BaseAggregateExec]))
  }

  test("s23c_agg_push_limit: limit kept above the pushed aggregate") {
    audit(q("s23c_agg_push_limit"))(
      "complete aggregate pushdown" -> (described(_, "pushedAggregation=complete")),
      "range unmutated by the refused limit" -> (described(_, "pushedRange=[0,50000)")),
      "Spark keeps the TopN/limit" -> (p => toap(p) || p.has[GlobalLimitExec]))
  }

  test("s16_rest_v2: parallel page plan + pruned parse") {
    audit(q("s16_rest_v2"))(
      "page span planned up front" -> (described(_, "pages=[0,20)")),
      "columns pruned to state+prio" ->
        (p => scanColumns(p) == Seq(Seq("state", "prio")) &&
          !p.attrNames.contains("title")),
      "partial aggregation" -> (_.partialAgg))
  }

  test("s16b_rest_filter: server-side filter pushdown") {
    audit(q("s16b_rest_filter"))(
      "filter pushed as query param" -> (described(_, "params=state=new")),
      "page plan covers only the filtered span" -> (described(_, "pages=[0,5)")),
      "partial aggregation" -> (_.partialAgg))
  }

  test("s16c_rest_count: complete COUNT(*) pushdown") {
    audit(q("s16c_rest_count"))(
      "count scan node" ->
        (_.of[BatchScanExec].exists(_.scan.isInstanceOf[graft.sources.v2.RestCountScan])),
      "pushed filter param on the count" -> (described(_, "params=state=new")),
      "probed filtered count" -> (described(_, "count=1250")))
  }

  test("s12_zorder_scan: both box predicates pushed to parquet") {
    def pushedGe(name: String)(p: PlanShape) = pushed(p) {
      case GreaterThanOrEqual(a: Attribute, _: Literal) if a.name == name => a
    }
    audit(q("s12_zorder_scan"))(
      "user_id bound pushed" -> pushedGe("user_id"),
      "value bound pushed" -> pushedGe("value"),
      "at most the aggregate's exchange" ->
        (p => p.of[Exchange].size <= 1 && !smj(p) && noWindow(p)))
  }

  test("w6_ewma: one exchange into the sequential pass") {
    audit(q("w6_ewma"))(
      "mapPartitions pass present" -> (_.has[MapPartitionsExec]),
      "no Window operator" -> noWindow,
      "single hash exchange on the key" -> (_.hashShuffles().size == 1))
  }

  test("a19_hll_rollup: one partial-agg shuffle of sketches") {
    audit(q("a19_hll_rollup"))(
      "partial aggregation (map-side sketch build)" -> (_.partialAgg),
      "single parquet scan" -> (parquetScans(_) == 1),
      "no join" -> noJoin)
  }

  test("llm_cdc_chunks core: kernel scan + generate, no join") {
    audit(SparkEntry.cdcChunks(spark, dir))(
      "native graft_cdc_cuts kernel in plan" -> (_.hasExpr[GraftCdcCuts]),
      "no ScalaUDF" -> noScalaUdf,
      "no join" -> noJoin,
      "zero exchanges" -> noExchange)
  }

  test("llm_cdc_dedup: one hash exchange on chunk_md5, partial agg") {
    audit(q("llm_cdc_dedup"))(
      "partial aggregation before the exchange" -> (_.partialAgg),
      "hash exchange on the chunk hash" -> (_.hashShuffles("chunk_md5").nonEmpty),
      "no text column crosses the exchange" -> (shufflesCarryNo(_, "text")))
  }

  // ---- DBSCAN ε-edges ----------------------------------------------------

  private def epsInput = table("embeddings").filter(col("vec_id") < 300)
    .select(col("vec_id").cast("long").as("id"),
      graft.ml.VectorOps.toMlVector(col("embedding")).as("features"))

  test("m5 eps-edges: broadcast bucket join, pair-only dedup") {
    audit(graft.ml.Dbscan.epsEdges(epsInput, eps = 1.2))(
      "broadcast bucket join (stats-gated hint took)" -> bhj,
      "dedup keys are the bare id pair" -> (_.of[BaseAggregateExec].exists(a =>
        a.groupingExpressions.map(e => (e.name, e.dataType)) ==
          Seq(("a", LongType), ("b", LongType)))),
      "no vector column in any shuffle exchange payload" ->
        (shufflesCarryNo(_, "fa", "fb")))
  }

  // the shuffle regime (corpus scale, forced by threshold -1): the tiny
  // hot-set relation still broadcasts, bucket joins key on the shard, and
  // the B side replicates to the shards
  test("m5 eps-edges SHUFFLE path: salted hot buckets") {
    graft.core.Util.withConfs(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      audit(graft.ml.Dbscan.epsEdges(epsInput, eps = 1.2, hotBucketShard = 8))(
        "hot-set broadcast join survives threshold=-1" -> bhj,
        "bucket join shuffles on (entry, hv, shard)" ->
          (_.hashShuffles("entry", "hv", "shard").nonEmpty),
        "bucket join is a shuffle join (no full-side broadcast)" ->
          (p => smj(p) || p.has[ShuffledHashJoinExec]),
        "B-side shard replication Generate present" ->
          (p => p.has[GenerateExec] && p.existsExpr {
            case s: Sequence => s.start == Literal(0)
          }))
    }
  }

  // ---- fused gates -------------------------------------------------------

  test("a23 exact-count gate: one scan, two exchanges") {
    audit(SparkEntry.a23ExactSetAgg(table("events")))(
      "single parquet scan" -> (parquetScans(_) == 1),
      "partial aggregation before exchange" -> (_.partialAgg),
      "exactly two exchanges (user-key + global reduce)" -> (_.shuffles.size == 2))
  }

  test("a6 rank gate: one scan, one exchange") {
    audit(SparkEntry.a6RankGateAgg(table("orders"),
        Seq(0.25, 0.5, 0.75), Seq(1000.0, 2000.0, 3000.0)))(
      "single parquet scan" -> (parquetScans(_) == 1),
      "partial aggregation before exchange" -> (_.partialAgg),
      "single global-reduce exchange" -> (_.shuffles.size == 1),
      "scan pruned to the quantile column" ->
        (p => p.fileScans.nonEmpty && !p.attrNames.contains("o_orderdate")))
  }

  test("j8_full_outer_diff: shuffle full-outer join") {
    audit(q("j8_full_outer_diff"))(
      "full outer join type" -> (_.joinOfType(FullOuter)),
      "shuffle join (sort-merge or shuffled-hash)" ->
        (p => smj(p) || p.has[ShuffledHashJoinExec]),
      "no broadcast of either side" -> (!_.has[BroadcastExchangeLike]))
  }

  test("s18_xml_roundtrip: xml file scan under an explicit schema") {
    audit(q("s18_xml_roundtrip"))(
      "xml scan in plan" -> (_.fileScansOf[XmlFileFormat].nonEmpty),
      "no schema-inference extra scan (single scan node)" -> (_.count {
        case _: DataSourceScanExec | _: DataSourceV2ScanExecBase |
             _: RDDScanExec | _: ExternalRDDScanExec[_] => true
        case _ => false
      } == 1))
  }

  test("sql_udf_buckets: SQL UDFs inlined into the plan") {
    audit(q("sql_udf_buckets"))(
      "udf body inlined (floor visible in plan)" -> (_.hasExpr[Floor]),
      "no surviving udf-call boundary" -> (p => !p.hasExpr[SQLFunctionExpression] &&
        !p.exprs.exists(e => Set("rev_bucket", "rev_label")(e.prettyName))),
      "partial aggregation before exchange" -> (_.partialAgg))
  }

  test("j9_collated_join: collated equality stays a hash join") {
    audit(q("j9_collated_join"))(
      "equi-join strategy (broadcast/shuffled-hash/sort-merge)" -> hashJoin,
      "no nested-loop fallback" -> noNestedLoop)
  }

  test("j10_lateral_agg: the lateral subquery decorrelates") {
    audit(q("j10_lateral_agg"))(
      "decorrelated to a join" -> hashJoin,
      "no nested-loop/cartesian execution" -> noNestedLoop,
      "aggregate pushed below the join (partial agg present)" -> (_.partialAgg))
  }

  test("j11_nullsafe_join: <=> stays a hash join") {
    audit(q("j11_nullsafe_join"))(
      "equi-join strategy (broadcast/shuffled-hash/sort-merge)" -> hashJoin,
      "no nested-loop fallback" -> noNestedLoop)
  }

  test("st12_statestore_read: DSv2 state scan, no replay") {
    audit(q("st12_statestore_read"))(
      "state source batch scan" ->
        (_.of[BatchScanExec].exists(_.scan.isInstanceOf[StateScan])),
      "no streaming relation in the read-back plan" -> (!_.has[StreamingRelationExec]))
  }

  // rank() <= k runs two-phase: the partial heap caps every mapper at k
  // rows per group below the group-key exchange
  test("w1_top_per_group: two-phase TopKPerGroup") {
    def topK(partial: Boolean)(n: SparkPlan) = n match {
      case t: TopKPerGroupExec => t.partial == partial
      case _ => false
    }
    audit(q("w1_top_per_group"))(
      "partial BELOW the group-key exchange BELOW the final" ->
        (p => p.chain(topK(partial = false),
          p.hashShuffles("event_type").contains, topK(partial = true))))
  }

  test("w8_range_frame: one exchange, shared window spec") {
    audit(q("w8_range_frame"))(
      "window operator present" -> window,
      // the second exchange is the presentation sort's
      "exactly one hash exchange on the partition key" ->
        (p => p.hashShuffles("user_id").nonEmpty && p.shuffles.size <= 2))
  }

  test("a24_moment_stats: one partial-agg pass, single scan") {
    audit(q("a24_moment_stats"))(
      "partial aggregation before exchange" -> (_.partialAgg),
      "no join (single-table moments)" -> noJoin,
      "single parquet scan" -> (parquetScans(_) == 1))
  }

  test("a25_histogram: bucket projection + partial agg") {
    audit(q("a25_histogram"))(
      "partial aggregation before exchange" -> (_.partialAgg),
      "width_bucket evaluated in the scan stage (no join/expand)" ->
        (p => noJoin(p) && !p.has[ExpandExec]))
  }

  test("sql_recursive_spine: UnionLoop recursion, broadcast gap-fill") {
    audit(q("sql_recursive_spine"))(
      "UnionLoop drives the recursion" -> (_.has[UnionLoopExec]),
      "gap-fill join broadcasts" -> bhj,
      "left outer (zero-fill) join" -> (_.joinOfType(LeftOuter)))
  }

  test("a21_bitmap_distinct: partial aggregation at both bitmap levels") {
    audit(q("a21_bitmap_distinct"))(
      "partial bitmap_construct_agg before the first exchange" ->
        (_.partialAgg[BitmapConstructAgg]),
      "partial popcount sum before the second exchange" -> (_.partialAgg[Sum]),
      "no expand/distinct fallback" -> (!_.has[ExpandExec]))
  }

  test("a22_topk_sketch: partial sketch accumulate, bounded merge") {
    audit(q("a22_topk_sketch"))(
      "partial approx_top_k_accumulate before exchange" ->
        (_.partialAgg[ApproxTopKAccumulate]),
      "single-partition final merge of sketch states" ->
        (_.shuffles.exists(_.outputPartitioning == SinglePartition)))
  }

  test("p15_transpose: the result is a driver-local relation") {
    audit(q("p15_transpose"))(
      "transposed frame is a driver-local relation" -> (_.has[LocalTableScanExec]),
      "no exchange after the transpose" -> noExchange)
  }

  test("s19_metadata_cols: metadata rides the scan, zero data columns") {
    audit(q("s19_metadata_cols"))(
      "scan reads only the synthetic row-index column" ->
        (readSchema(_, "struct<_tmp_metadata_row_index:bigint>")),
      "single scan, no join against a listing" -> noJoin,
      "partial aggregation before exchange" -> (_.partialAgg))
  }
}
