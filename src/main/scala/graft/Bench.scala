package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Util.jsonString

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR, min
  * of 2 runs each to the noop sink, and prints two JSON lines built by
  * [[record]]: the full record, then the compact one (the same fields
  * without `queries`), so the last stdout line is always a small
  * headline. A query fails unless both runs succeed; failures are
  * stamped `null` and EXCLUDED from the total, so a broken query can't
  * silently inflate or deflate the headline number.
  * `SPARK_GRAFT_ONLY=q1,q2` limits the run to the named queries; only a
  * full run appends its full line to bench_history.jsonl.
  */
object Bench {

  /** The measurement action stamped into the record. */
  val Action = "noop"

  /** Payer attribution for the shared-gate memos: `SparkEntry.benchReset`
    * makes these queries carry the whole shared build while their family
    * members stamp memo reads, so the record states it. */
  private val GatePayer = "llm_ann_topk=shared_exact_topk_memo_build," +
    "m_flagship_shape=flagship_w2v_dbscan_fit"

  /** One bench record line. `times` holds each query's min-of-2 time, or
    * None when it failed. The full line carries the per-query `queries`
    * map; the compact line omits the key entirely (not `{}`, which could
    * read as "zero queries ran"). The headline total is stamped at both
    * ends (`value`, `value_end`), so a tail of the line still holds it. */
  def record(times: Seq[(String, Option[Double])], sfDir: String,
             loadStart: Double, loadEnd: Double, full: Boolean): String = {
    val ok = times.flatMap(_._2)
    val total = ok.sum
    val queries = if (!full) "" else times.map { case (n, t) =>
      jsonString(n) + ":" + t.fold("null")(v => f"$v%.3f")
    }.mkString("\"queries\":{", ",", "},")
    s"""{"metric":"total_ok","value":$total,"unit":"sec",$queries""" +
      s""""n_ok":${ok.size},"n_fail":${times.size - ok.size},""" +
      s""""sf":${jsonString(sfDir)},"action":${jsonString(Action)},""" +
      s""""load_start":$loadStart,"load_end":$loadEnd,""" +
      s""""gate_payer":${jsonString(GatePayer)},"value_end":$total}"""
  }

  def main(args: Array[String]): Unit = {
    // f"%.3f" is locale-dependent (fr_FR renders 1.063 as "1,063", which
    // is invalid JSON), so pin the JVM to ROOT before any formatting
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // 1-minute loadavg at the start and end of the run, so a reader of
    // the record can tell host contention from a regression
    def loadAvg(): Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Tables.session("graft-bench", "32")
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame)
        : Option[Double] = {
      // shared-memo reset (flagship pair, ANN gates): outside the timed
      // window, so the payer's stamp is the real pipeline cost every run
      SparkEntry.benchReset(name)
      val t0 = System.nanoTime()
      // noop sink, NOT count(): under count() the optimizer prunes every
      // column and drops sorts; the noop writer executes the full plan
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); None
      }
    }
    // min of 2 runs: the first pays one-off codegen/JIT compilation
    // (measured ~7x inflation on small inputs); a second-run failure
    // fails the query rather than letting one good run stand
    val times = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        name -> runOnce(name, fn).flatMap(t1 =>
          runOnce(name, fn).map(math.min(t1, _)))
      }
    val loadEnd = loadAvg()
    val line = record(times, sfDir, loadStart, loadEnd, full = true)
    println(line)
    println(record(times, sfDir, loadStart, loadEnd, full = false))
    if (only.isEmpty) {
      val w = new java.io.FileWriter("bench_history.jsonl", true)
      try w.write(line + "\n") finally w.close()
    }
    spark.stop()
  }
}
