package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Closed-loop benchmark client: one session, one client thread, ops of
  * one workload run back to back through graft's public entry points.
  *
  *   --workload W --ops op@DIR,... --seed N --seconds S --trace 0|1
  *   --digests FILE --cores N --work DIR [--record OUT]
  *
  * Each op runs on the input directory given with it. A run is one set-up
  * (session start with graft's extensions, then one pass that checks every
  * op's output digest), [[WarmupPasses]] untimed passes that let the JIT
  * reach steady state, and then timed passes, which write to the noop
  * sink. With --trace 1 the timed passes alternate between untraced ones
  * and ones with the listeners of [[Trace]] registered (in the order
  * U T T U, repeated), so both sides see the same JIT state; on a
  * workload with the flagship op a span pass ([[Flagship]]) follows.
  * The run prints one JSON line of raw samples; perfbench/run.py turns it
  * into the reported metrics. --record OUT instead dumps every op's output
  * as parquet (the graft.Verify layout, with oracle_sql.json) next to its
  * digest, for recording digests against the DuckDB twins.
  */
object Main {
  /** Untimed passes between set-up and timing, on top of the checked one,
    * while the JIT compiles Spark's planning and scheduling paths and
    * graft's kernels. Per-pass time keeps falling slowly for a minute or
    * more; within a fixed run-time budget every extra warm-up pass is one
    * timed pass fewer, and timed passes are what average out host noise. */
  val WarmupPasses = 1

  final case class Failure(op: String, phase: String, error: String)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val dirOf = a("ops").split(",").toSeq.filter(_.nonEmpty).map { o =>
      val Array(op, dir) = o.split("@", 2); op -> dir }
    val ops = dirOf.map(_._1)
    val dir = dirOf.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val cores = a("cores").toInt
    val work = a("work")
    val digests = a.get("digests").map(readDigests).getOrElse(Map.empty)
    val unknown = ops.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")

    val failures = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0
    // set during traced passes: the body's own analysis never reaches a
    // listener, so runOp records it
    var trace: Option[Trace] = None
    val rng = new scala.util.Random(seed)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.expr.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    /** Runs one op: the query body, then `sink` on its frame. Returns
      * (body seconds, total seconds), or None when the op failed. */
    def runOp(spark: SparkSession, op: String, phase: String)
             (sink: DataFrame => Unit): Option[(Double, Double)] = {
      attempted += 1
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      try {
        SparkEntry.benchReset(op)
        sc.setLocalProperty(Trace.PhaseKey, "body")
        val df = SparkEntry.queries(op)(spark, dir(op))
        val t1 = System.nanoTime()
        trace.foreach(_.phases(df.queryExecution, analysisOnly = true))
        sc.setLocalProperty(Trace.PhaseKey, "action")
        sink(df)
        Some(((t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9))
      } catch {
        case e: Throwable =>
          failures += Failure(op, phase, String.valueOf(e.getMessage).take(300))
          None
      } finally sc.setLocalProperty(Trace.PhaseKey, null)
    }

    /** Every op once, its output digest checked. */
    def checkPass(spark: SparkSession): Unit =
      for (op <- rng.shuffle(ops)) runOp(spark, op, "check") { df =>
        val got = Digest.of(df)
        digests.get(op) match {
          case Some(want) if want == got =>
          case Some(want) => throw new IllegalStateException(
            s"output digest $got != recorded $want")
          case None => throw new IllegalStateException(
            s"no recorded digest (got $got)")
        }
      }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    a.get("record") match {
      case Some(out) =>
        record(session(), dirOf, out)
        println("PERFBENCH_RESULT {}")
        return
      case None =>
    }

    def log(msg: String): Unit = System.err.println(s"perfbench: $msg")
    val t0 = System.nanoTime()
    val spark = session()
    log(f"session up after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    checkPass(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"set-up took $setupS%.2f s")
    val heap = new HeapSampler()
    val opTimes = mutable.ArrayBuffer.empty[(String, Double)]
    val tracedOpTimes = mutable.ArrayBuffer.empty[(String, Double)]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spans = Map.empty[String, Double]
    var spansMatch: Option[Boolean] = None

    /** Passes until the next one would end past the budget, but never
      * fewer than `minPasses`: whole passes keep every op in each one.
      * With `tr`, passes 1 and 2 of every four run with its listeners
      * registered, for that pass only. */
    def timedPasses(budgetS: Double, minPasses: Int, tr: Option[Trace]): Unit = {
      val start = System.nanoTime()
      val walls = mutable.ArrayBuffer.empty[Double]
      def elapsed = (System.nanoTime() - start) / 1e9
      while (walls.size < minPasses || elapsed + Stats.median(walls.toSeq) <= budgetS) {
        trace = tr.filter(_ => walls.size % 4 == 1 || walls.size % 4 == 2)
        trace.foreach(_.register(spark))
        val t0 = System.nanoTime()
        var bodyS = 0.0
        for (op <- rng.shuffle(ops); (b, t) <- runOp(spark, op, "timed")(noop)) {
          bodyS += b
          (if (trace.isEmpty) opTimes else tracedOpTimes) += op -> t
        }
        val wall = (System.nanoTime() - t0) / 1e9
        trace.foreach { tr =>
          PerfbenchBus.drain(spark.sparkContext)
          tr.unregister(spark)
          tr.add("SparkEntry.body_s", bodyS)
          layers += tr.snapshot(wall)
        }
        trace = None
        walls += wall
      }
    }

    // a traced run reports no set-up time, so it warms up one pass longer:
    // its first untraced pass then no longer sits on the steep part of
    // the warm-up curve, which would bias trace.overhead_frac
    val warmup = WarmupPasses + (if (traced) 1 else 0)
    for (_ <- 1 to warmup; op <- rng.shuffle(ops)) runOp(spark, op, "warm-up")(noop)
    log(f"warm-up done after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    heap.start()
    if (!traced) timedPasses(seconds, minPasses = 3, None)
    else {
      timedPasses(seconds, minPasses = 4, Some(new Trace(cores)))
      for (d <- dir.get("m_flagship_shape")) {
        val (s, labeled) = Flagship.spans(spark, d)
        spans = s
        // the spans re-run flagshipLabels' stages one by one: they must
        // still label every document as flagshipLabels itself does
        val want = Digest.of(graft.PerfbenchAccess.flagshipLabels(Flagship.docs(spark, d)))
        val got = Digest.of(labeled)
        spansMatch = Some(want == got)
        attempted += 1
        if (want != got) failures += Failure("m_flagship_shape", "spans",
          s"span labels digest $got != flagshipLabels digest $want")
      }
    }
    log(f"timed passes done after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    heap.finish()
    spark.stop()

    val j = Json
    println("PERFBENCH_RESULT " + j.obj(
      "workload" -> j.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> j.arr(failures.toSeq.map(f => j.obj(
        "op" -> j.str(f.op), "phase" -> j.str(f.phase), "error" -> j.str(f.error)))),
      "setup_s" -> j.num(setupS),
      "op_s" -> byOp(opTimes.toSeq),
      "traced_op_s" -> byOp(tracedOpTimes.toSeq),
      "heap_peak_mb" -> j.num(heap.peakMb),
      "layers" -> j.arr(layers.toSeq.map(l => j.obj(
        l.toSeq.sortBy(_._1).map { case (k, v) => k -> j.num(v) }: _*))),
      "spans" -> j.obj(spans.toSeq.map { case (k, v) => k -> j.num(v) }: _*),
      "spans_match" -> spansMatch.map(_.toString).getOrElse("null")))
  }

  private def byOp(times: Seq[(String, Double)]): String =
    Json.obj(times.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (op, ts) => op -> Json.nums(ts.map(_._2)) }: _*)

  /** op<TAB>digest lines; '#' starts a comment. A missing file records
    * nothing, so every op fails its check. */
  def readDigests(path: String): Map[String, String] = {
    if (!Files.exists(Paths.get(path))) return Map.empty
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(op, d, _*) => op -> d }.toMap
    finally src.close()
  }

  /** Writes each op's output where graft.Verify would, plus its digest. */
  def record(spark: SparkSession, ops: Seq[(String, String)], out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    val lines = ops.map { case (op, dir) =>
      SparkEntry.benchReset(op)
      try {
        val df = SparkEntry.queries(op)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$op")
        SparkEntry.benchReset(op)
        s"$op\t${Digest.of(SparkEntry.queries(op)(spark, dir))}"
      } catch { case e: Throwable => s"$op\tERROR ${e.getMessage}" }
    }
    Files.writeString(Paths.get(s"$out/digests.tsv"), lines.mkString("", "\n", "\n"))
    val sql = SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_._1 == k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(sql.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
    spark.stop()
  }
}

/** Order-independent digest of a frame's schema and rows. Every row is
  * rendered as JSON (which covers nested, map and variant columns), hashed
  * with xxhash64, and the hashes summed exactly as decimals; the row count
  * and the column names and types are part of the digest. */
object Digest {
  def of(df: DataFrame): String = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")).cast("string")).head()
    val body = s"$schema|${r.getLong(0)}|${Option(r.getString(1)).getOrElse("0")}"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(body.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
  }
}

/** Peak driver heap in use after garbage collection while the timed
  * passes run: the heap pools' usage right after each collection, from
  * the collectors' notifications. Instantaneous usage would mostly
  * measure how full the young generation happened to be. */
final class HeapSampler {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile var peakMb = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
        val used = after.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
        peakMb = math.max(peakMb, used / (1024.0 * 1024.0))
      }
  }
  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def finish(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

/** Minimal JSON writer: strings are escaped, numbers pass through. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
}
