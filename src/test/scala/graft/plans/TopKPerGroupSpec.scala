package graft.plans

import graft.{PlanShape, SparkSpec}
import graft.ops.Relational
import org.apache.spark.sql.functions._

class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  private def events = spark.read.parquet(s"$sfDir/events.parquet")
    .select($"event_id", $"event_type", $"value")

  /** Run `job` with a temporary listener summing shuffle-written
    * records, then spin until the async listener bus goes quiet (fixed
    * sleeps race with stragglers). Returns (result, records). */
  private def measureShuffleWrites[A](job: => A): (A, Long) = {
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = job
      var last = -1L
      var spins = 0
      while (spins < 25 && records.get != last) {
        last = records.get; spins += 1; Thread.sleep(200)
      }
      (r, records.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("custom physical operator matches the window formulation exactly") {
    val native = TopKPerGroup(events, Seq("event_type"),
        Seq(("value", false), ("event_id", true)), k = 3)
      .orderBy($"event_type", desc("value"), $"event_id")
    val window = Relational.topNPerGroup(events, "event_type",
        desc("value"), $"event_id", 3)
      .select("event_id", "event_type", "value")
      .orderBy($"event_type", desc("value"), $"event_id")
    assert(native.columns.toSeq == Seq("event_id", "event_type", "value"))
    assert(native.collect().toSeq == window.collect().toSeq)
  }

  test("plan uses TopKPerGroupExec, not Window+Sort") {
    val df = TopKPerGroup(events, Seq("event_type"),
      Seq(("value", false), ("event_id", true)), k = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"plan was:\n$plan")
    assert(!plan.contains("Window"), s"plan was:\n$plan")
  }

  test("optimizer rule rewrites the window row_number<=k pattern") {
    // the standard window formulation, written blind to the custom op
    val windowForm = Relational.topNPerGroup(events, "event_type",
      desc("value"), $"event_id", 3)
    val plan = windowForm.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"rule did not fire:\n$plan")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
      s"window still present:\n$plan")
  }

  test("rule leaves non-top-k windows alone (global row_number, first_value)") {
    val globalRn = events.select($"event_id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("event_id")).as("rn")).filter($"rn" <= 5)
    assert(globalRn.count() == 5) // still correct, not rewritten (no partition)
    val plan = globalRn.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerGroup"))
  }

  test("k larger than any group returns everything") {
    val n = events.count()
    val all = TopKPerGroup(events, Seq("event_type"),
      Seq(("event_id", true)), k = n.toInt + 10)
    assert(all.count() == n)
  }

  test("group explosion spills to sorted runs and merges exactly") {
    // 100k groups × 3 rows on a 4-row budget per partition: every
    // partition spills many runs; result must equal the unlimited path
    val wide = spark.range(300000)
      .select(($"id" % 100000).as("g"), ($"id" % 7).cast("double").as("v"),
        $"id".as("tie"))
    // budget 1000 → ~75 spills per partition → crosses MaxOpenRuns twice,
    // exercising both the spill and the run-compaction paths
    val spilled = TopKPerGroup(wide, Seq("g"),
        Seq(("v", false), ("tie", true)), k = 2, maxBufferedRows = 1000)
      .orderBy("g", "tie").collect().toSeq
    val unlimited = TopKPerGroup(wide, Seq("g"),
        Seq(("v", false), ("tie", true)), k = 2)
      .orderBy("g", "tie").collect().toSeq
    assert(spilled.size == 200000)
    assert(spilled == unlimited)
  }

  test("unknown column fails with a named error") {
    val e = intercept[IllegalArgumentException] {
      TopKPerGroup(events, Seq("nope"), Seq(("value", true)), 1)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("partial phase: map-side cap slashes shuffle volume, result identical") {
    // 20k rows, 4 groups, k=3, 8 mappers: the partial exec may shuffle
    // at most k*groups*mappers = 96 rows
    // localCheckpoint so the repartition's own 20k-row shuffle happens
    // ONCE here and the listener below sees only the top-k exchange
    val big = spark.range(20000)
      .select(col("id").as("event_id"),
        (col("id") % 4).cast("string").as("event_type"),
        (col("id") * 48271 % 997).cast("double").as("value"))
      .repartition(8).localCheckpoint(true)
    def topK = TopKPerGroup(big, Seq("event_type"),
      Seq(("value", false), ("event_id", true)), k = 3)
    val (rows, shuffled) = measureShuffleWrites {
      topK.orderBy(col("event_type"), desc("value"), col("event_id"))
        .collect().map(_.toString).toSeq
    }
    // driver-side brute force over the same rows: top-3 per group
    val expected = big.collect().toSeq.groupBy(_.getString(1)).toSeq
      .sortBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy(r => (-r.getDouble(2), r.getLong(0))).take(3)
      }.map(_.toString)
    assert(rows == expected)
    assert(rows.size == 12)                   // 4 groups x k=3
    // the cap is k*groups*mappers (+ the tiny post-topk rows feeding
    // the final orderBy)
    assert(shuffled <= 200L, s"shuffled=$shuffled")
    assert(PlanShape(topK).of[TopKPerGroupExec].exists(_.partial), PlanShape(topK))
  }
}
