package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Z-order layout contracts: Morton bit interleave, write/read
  * losslessness, and the actual data-skipping payoff measured through
  * the reader's recordsRead (rows a pruned-away file/row-group never
  * contributes). */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("mortonCode interleaves bucket bits (low dims adjacent)") {
    // 2-bit space, domain [0,4): buckets are the integer values 0..3.
    // morton(a=1,b=0) = 0b01 = 1; morton(a=0,b=1) = 0b10 = 2;
    // morton(a=3,b=3) = 0b1111 = 15
    val df = Seq((1.0, 0.0), (0.0, 1.0), (3.0, 3.0), (2.0, 1.0))
      .toDF("a", "b")
    val got = df.select(Sources.mortonCode(
        col("a"), 0.0, 4.0, col("b"), 0.0, 4.0, bits = 2).as("z"))
      .as[Long].collect().toSeq
    // a=2,b=1: a bits (10) at even positions -> 0b100, b bits (01) at
    // odd positions -> 0b010; code = 0b110 = 6
    assert(got == Seq(1L, 2L, 15L, 6L))
  }

  test("mortonCode clamps the domain edges (v == hi stays in range)") {
    val df = Seq((4.0, -1.0)).toDF("a", "b") // a == hi, b below lo
    val z = df.select(Sources.mortonCode(
        col("a"), 0.0, 4.0, col("b"), 0.0, 4.0, bits = 2).as("z"))
      .as[Long].head()
    assert(z == 5L) // a clamps to bucket 3 (0b0101), b to bucket 0
  }

  private def recordsReadOf(action: => Unit): Long = {
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        total.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      action
      // the listener bus is async: poll until the counter is stable
      var prev = -1L; var stable = 0; var iters = 0
      while (stable < 3 && iters < 200) {
        Thread.sleep(25)
        val cur = total.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        iters += 1
      }
      total.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("2-D box scan skips most data under Z-order, beats 1-D sort") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("value")).na.drop()
    val n = ev.count()
    val tmp = graft.core.Util.scratchDir("graft_zorder")
    // one-row-group files: pruning granularity == file granularity here
    Sources.writeZOrdered(ev, tmp.resolve("z").toString,
      "user_id", "value", nFiles = 16, bits = 8)
    ev.orderBy("value").coalesce(1)
      .write.option("maxRecordsPerFile", (n / 16).max(1))
      .parquet(tmp.resolve("linear").toString)

    // box: ~10% of users x ~50% of the value domain — the shape where a
    // value-sorted layout prunes one dimension and Z-order prunes both
    def boxCount(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("user_id").between(10, 25) &&
          col("value").between(20.0, 60.0))
      df.agg(count(lit(1))).head().getLong(0)
    }
    val zRead = recordsReadOf(boxCount(tmp.resolve("z").toString))
    val linRead = recordsReadOf(boxCount(tmp.resolve("linear").toString))
    // correctness: both layouts return the true box count
    val truth = ev.filter(col("user_id").between(10, 25) &&
      col("value").between(20.0, 60.0)).count()
    assert(boxCount(tmp.resolve("z").toString) == truth)
    assert(boxCount(tmp.resolve("linear").toString) == truth)
    // the payoff: Z-order materializes a strict subset of the corpus
    // and strictly fewer rows than the single-dimension sort
    info(s"recordsRead: zorder=$zRead linear=$linRead total=$n")
    assert(zRead < n, s"zRead=$zRead n=$n (no pruning happened)")
    assert(zRead < linRead,
      s"zRead=$zRead linRead=$linRead (Z-order should prune both dims)")
  }
}
