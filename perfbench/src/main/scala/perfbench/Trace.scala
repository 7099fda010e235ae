package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for one traced pass, fed by three listeners the
  * benchmark registers on its own session. Nothing here reaches inside
  * graft: jobs are attributed from the call site Spark records for them
  * and from the phase the benchmark stamps as a local property.
  */
final class Trace(cores: Int) {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val stageModule = mutable.Map.empty[Int, String]
  private val executionModule = mutable.Map.empty[Long, String]
  private val stageRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]

  def add(k: String, v: Double): Unit = synchronized { sums(k) += v }
  private def max(k: String, v: Double): Unit =
    synchronized { sums(k) = math.max(sums(k), v) }

  /** Metrics of the pass so far (wall-clock is supplied by the caller),
    * then a clean slate for the next pass. */
  def snapshot(wallS: Double): Map[String, Double] = synchronized {
    val out = sums.toMap ++ Map(
      "sched.idle_frac" -> (1.0 - sums("exec.run_s") / (wallS * cores)),
      "streaming.batch_p50_ms" -> Stats.median(batchMs.toSeq))
    sums.clear(); batchMs.clear(); stageModule.clear(); stageRuns.clear()
    executionModule.clear()
    out
  }

  val jobs: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val phase = prop(Trace.PhaseKey).getOrElse("")
      // jobs that SQL runs on its own threads (query stages, broadcasts,
      // subqueries) carry no graft frame: they take their execution's
      val execution = Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
        .flatMap(prop).flatMap(id => Trace.this.synchronized(executionModule.get(id.toLong)))
      val module =
        if (phase == "action") "action"
        else Trace.innermostModule(e.stageInfos.map(_.details))
          .orElse(execution.headOption)
          .getOrElse(if (prop("sql.streaming.queryId").isDefined) "streaming"
                     else "other")
      Trace.this.synchronized {
        e.stageIds.foreach(s => stageModule.getOrElseUpdate(s, module))
      }
      add("sched.jobs", 1)
      add(s"$module.jobs", 1)
      if (phase == "body") add("SparkEntry.body_jobs", 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      val runS = m.executorRunTime / 1e3
      add("sched.tasks", 1)
      add("exec.run_s", runS)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("sched.delay_s", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime) / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Trace.MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Trace.MB)
      add("spill.mem_mb", m.memoryBytesSpilled / Trace.MB)
      add("spill.disk_mb", m.diskBytesSpilled / Trace.MB)
      val module = Trace.this.synchronized {
        stageRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += runS
        stageModule.getOrElse(e.stageId, "other")
      }
      add(s"$module.exec_s", runS)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.innermostModule(Seq(s.details)).foreach { m =>
          Trace.this.synchronized { executionModule(s.executionId) = m }
        }
      case _ =>
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("sched.stages", 1)
      val runs = Trace.this.synchronized {
        stageRuns.remove(e.stageInfo.stageId).map(_.toSeq).getOrElse(Nil)
      }
      val med = Stats.median(runs)
      if (runs.size >= 2 && med > 0) max("exec.task_skew", runs.max / med)
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      phases(qe)
      qe.tracker.rules.foreach { case (rule, s) =>
        if (Trace.GraftRules.exists(r => rule.endsWith(r))) {
          add("plans.rule_s", s.totalTimeNs / 1e9)
          add("plans.rule_runs", s.numInvocations)
          add("plans.rule_effective", s.numEffectiveInvocations)
        }
      }
      add("plans.custom_exec_nodes", Trace.customExecs(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = phases(qe)
  }

  /** Catalyst phase times of one query execution. */
  def phases(qe: QueryExecution, analysisOnly: Boolean = false): Unit = {
    val ph = qe.tracker.phases
    for ((phase, metric) <- Trace.Phases.take(if (analysisOnly) 1 else 3))
      add(metric, ph.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.addBatch_ms", ms("addBatch"))
      add("streaming.queryPlanning_ms", ms("queryPlanning"))
      add("streaming.commit_ms", ms("walCommit") + ms("commitOffsets"))
      p.stateOperators.foreach { s =>
        add("streaming.state_commit_ms", s.commitTimeMs)
        add("streaming.state_rows", s.numRowsTotal)
        add("streaming.state_mem_mb", s.memoryUsedBytes / Trace.MB)
      }
      Trace.this.synchronized { batchMs += ms("triggerExecution") }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}

object Trace {
  /** Local property carrying the benchmark's phase (body / action) to the
    * jobs it triggers, including jobs of threads started in that phase. */
  val PhaseKey = "perfbench.phase"
  val MB = 1024.0 * 1024.0
  val Phases = Seq("analysis" -> "catalyst.analysis_s",
    "optimization" -> "catalyst.optimization_s",
    "planning" -> "catalyst.planning_s")
  val GraftRules = Seq("TopKRewrite", "RangeJoinRewrite", "DedupComputeRewrite")
  val CustomExecs = Set("TopKPerGroupExec", "RangeAggPrefixExec",
    "RangeExtremaExec", "RangeValueExtremaExec")

  private val Frame = """(?:^|/)graft\.([A-Za-z]+)[.$]""".r.unanchored
  private val Package = """(?:^|/)graft\.([a-z]+)\.""".r.unanchored

  /** The graft module of the innermost graft frame in a recorded call
    * site (Spark records it with the innermost frame first); frames of
    * graft's root package count as SparkEntry. */
  def innermostModule(callSites: Seq[String]): Option[String] =
    callSites.iterator.flatMap(_.split("\n").iterator).map(_.trim)
      .collectFirst {
        case l @ Frame(_) => l match {
          case Package(m) => m
          case _ => "SparkEntry"
        }
      }

  def customExecs(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => customExecs(a.executedPlan)
    case q: QueryStageExec => customExecs(q.plan)
    case p =>
      (if (CustomExecs(p.getClass.getSimpleName)) 1 else 0) +
        p.children.map(customExecs).sum + p.subqueries.map(customExecs).sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
