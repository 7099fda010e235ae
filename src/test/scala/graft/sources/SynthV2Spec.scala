package graft.sources

import graft.SparkSpec
import graft.sources.v2.{SynthScanBuilder, SynthPartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}

/** The DSv2 source's two real capabilities: pushdown-driven partition
  * pruning and column pruning — plus end-to-end row parity. */
class SynthV2Spec extends SparkSpec {
  import spark.implicits._

  private def synth(n: Long, slices: Int = 4) =
    spark.read.format("graft.sources.v2.SynthSource")
      .option("numRows", n).option("slices", slices).load()

  test("generates the deterministic grid end to end") {
    val got = synth(10).orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got.map(_._1) == (0L until 10L))
    assert(got.map(_._2).take(6) == Seq("de", "en", "es", "fr", "zh", "de"))
    assert(got.map(_._3) == (0L until 10L).map(i => (i * 48271L) % 1000L))
  }

  test("doc_id range filter prunes planned partitions, not just rows") {
    val b = new SynthScanBuilder(numRows = 100000L, slices = 8)
    val rejected = b.pushFilters(Array(
      GreaterThanOrEqual("doc_id", 25000L), LessThan("doc_id", 50000L)))
    assert(rejected.isEmpty) // both bounds absorbed into the scan
    val parts = b.build().asInstanceOf[graft.sources.v2.SynthScan]
      .planInputPartitions().map(_.asInstanceOf[SynthPartition])
    // the 8 slices cover ONLY [25000, 50000) — the unfiltered table
    // would span [0, 100000)
    assert(parts.head.start == 25000L && parts.last.end == 50000L)
    assert(parts.map(p => p.end - p.start).sum == 25000L)
    // and the executed query agrees with the unpruned answer
    val filtered = synth(100000L, 8)
      .filter(col("doc_id") >= 25000L && col("doc_id") < 50000L)
    assert(filtered.count() == 25000L)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("pushedRange=[25000,50000)"), plan)
  }

  test("contradictory bounds plan zero partitions") {
    val b = new SynthScanBuilder(numRows = 1000L, slices = 4)
    b.pushFilters(Array(
      GreaterThanOrEqual("doc_id", 900L), LessThan("doc_id", 100L)))
    assert(b.build().asInstanceOf[graft.sources.v2.SynthScan]
      .planInputPartitions().isEmpty)
  }

  test("column pruning reaches the reader") {
    val df = synth(100).select("lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=lang"), plan)
    assert(df.distinct().count() == 5)
  }

  test("TopN/LIMIT pushdown: ASC and DESC fully pushed, filter composes") {
    import org.apache.spark.sql.functions._
    def synth = spark.read.format("graft.sources.v2.SynthSource")
      .option("numRows", 50000).option("slices", 4).load()
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString

    // ASC: the source answers the whole TopN — bare BatchScan of k
    // rows, no Sort/TakeOrdered anywhere, range narrowed to [0,3)
    val asc = synth.orderBy("doc_id").limit(3)
    val ascPlan = planOf(asc)
    assert(ascPlan.contains("pushedRange=[0,3)"), ascPlan)
    assert(!ascPlan.contains("TakeOrdered") && !ascPlan.contains("Sort"),
      ascPlan)
    assert(asc.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))

    // DESC: range narrows to the LAST k and the reader walks the range
    // BACKWARD — fully pushed like ASC, no Sort/TakeOrdered anywhere
    val desc = synth.orderBy(col("doc_id").desc).limit(3)
    val descPlan = planOf(desc)
    assert(descPlan.contains("pushedRange=[49997,50000)"), descPlan)
    assert(descPlan.contains("order=desc"), descPlan)
    assert(!descPlan.contains("TakeOrdered") && !descPlan.contains("Sort"),
      descPlan)
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      Seq(49999L, 49998L, 49997L))

    // bare LIMIT: any k rows satisfy it — the first k do, one partition
    val lim = synth.limit(5)
    assert(planOf(lim).contains("pushedRange=[0,5)"), planOf(lim))
    assert(lim.collect().length == 5)
    assert(lim.rdd.getNumPartitions == 1)

    // composition: the filter narrows lo FIRST, TopN caps on top of it
    val both = synth.filter(col("doc_id") >= 100).orderBy("doc_id").limit(2)
    assert(planOf(both).contains("pushedRange=[100,102)"), planOf(both))
    assert(both.collect().map(_.getLong(0)).toSeq == Seq(100L, 101L))

    // an ordering the grid can't answer is refused whole: Spark keeps
    // its own TopN and the range stays unnarrowed
    val other = synth.orderBy("n_chars").limit(3)
    val otherPlan = planOf(other)
    assert(otherPlan.contains("pushedRange=[0,50000)"), otherPlan)
    assert(otherPlan.contains("TakeOrdered"), otherPlan)
  }

  test("aggregate pushdown: complete (no Spark agg), off-arm parity, avg refused") {
    import org.apache.spark.sql.functions._
    def synth(aggPush: Boolean) = spark.read
      .format("graft.sources.v2.SynthSource")
      .option("numRows", 50000).option("slices", 4)
      .option("aggPush", aggPush.toString).load()
    def rollup(aggPush: Boolean) = synth(aggPush)
      .filter(col("doc_id") >= 10000)
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sc"))
      .orderBy("lang")

    val on = rollup(aggPush = true)
    val onPlan = on.queryExecution.executedPlan.toString
    assert(onPlan.contains("pushedAggregation=complete"), onPlan)
    assert(!onPlan.contains("HashAggregate"),
      "complete pushdown must leave NO Spark-side aggregate:\n" + onPlan)

    // parity: the source's O(period) arithmetic equals the real scan+agg
    val off = rollup(aggPush = false)
    assert(off.queryExecution.executedPlan.toString
      .contains("HashAggregate"))
    assert(on.collect().map(_.toString).toSeq ==
      off.collect().map(_.toString).toSeq)

    // an unsupported aggregate is refused WHOLE — Spark keeps its own
    // two-phase agg over the plain scan, never a half-pushed hybrid
    val refused = synth(aggPush = true).groupBy("lang")
      .agg(avg("n_chars").as("a"))
    val rp = refused.queryExecution.executedPlan.toString
    assert(rp.contains("HashAggregate"), rp)
    assert(!rp.contains("pushedAggregation"), rp)

    // empty-range edges: a grouped rollup vanishes (0 rows); a GLOBAL
    // aggregate keeps SQL semantics — count 0, sum NULL (never 0)
    val none = synth(aggPush = true).filter(col("doc_id") >= 50000)
    assert(none.groupBy("lang").agg(count(lit(1))).count() == 0)
    val globalRow = none
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sc"))
      .collect()(0)
    assert(globalRow.getLong(0) == 0L)
    assert(globalRow.isNullAt(1), "sum over the empty set must be NULL")

    // global min/max(doc_id) are closed-form on the pushed range ends
    val mm = synth(aggPush = true)
      .filter(col("doc_id") >= 123 && col("doc_id") < 4567)
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
        count(lit(1)).as("n"))
    assert(mm.queryExecution.executedPlan.toString
      .contains("pushedAggregation=complete"))
    assert(mm.collect()(0).toString == "[123,4566,4444]")
  }

  test("per-group min/max(doc_id) push complete via residue arithmetic") {
    import org.apache.spark.sql.functions._
    def rollup(aggPush: Boolean) = spark.read
      .format("graft.sources.v2.SynthSource")
      .option("numRows", 50000).option("slices", 4)
      .option("aggPush", aggPush.toString).load()
      .filter(col("doc_id") >= 123 && col("doc_id") < 4567)
      .groupBy("lang")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
        count(lit(1)).as("n"))
      .orderBy("lang")
    val on = rollup(aggPush = true)
    val onPlan = on.queryExecution.executedPlan.toString
    assert(onPlan.contains("pushedAggregation=complete"), onPlan)
    assert(!onPlan.contains("HashAggregate"), onPlan)
    // parity with the real scan + Spark aggregate
    assert(on.collect().map(_.toString).toSeq ==
      rollup(aggPush = false).collect().map(_.toString).toSeq)
    // spot-check the residue math: lang 'de' is residue 0 — first
    // multiple of 5 at/after 123 is 125, last before 4567 is 4565
    assert(on.collect().head.toString == "[de,125,4565,889]")
  }

  test("LIMIT after a complete aggregate pushdown is refused, not dropped") {
    import org.apache.spark.sql.functions._
    // Spark 4.1 pushes the limit AFTER the aggregate on the same
    // builder; accepting it would make Spark drop its GlobalLimit while
    // the agg scan ignores it → 5 rows for a .limit(2)
    def agged = spark.read.format("graft.sources.v2.SynthSource")
      .option("numRows", 50000).option("slices", 4).load()
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
    val lim = agged.limit(2)
    assert(lim.queryExecution.executedPlan.toString
      .contains("pushedAggregation=complete"))
    assert(lim.collect().length == 2,
      "limit over a pushed aggregate must still limit")
    // ordered variant (TopN path) and the printed range must stay the
    // UNMUTATED full range
    val top = agged.orderBy(col("lang").desc).limit(2)
    assert(top.collect().map(_.getString(0)).toSeq == Seq("zh", "fr"))
    val topDoc = agged.orderBy(col("cnt"), col("lang")).limit(3)
    assert(topDoc.collect().length == 3)
    assert(lim.queryExecution.executedPlan.toString
      .contains("pushedRange=[0,50000)"))
  }
}
