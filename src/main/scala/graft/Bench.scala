package graft
import org.apache.spark.sql.SparkSession
import graft.core.Util.jsonString

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Failures are reported per-query (ok:false) and are
  * EXCLUDED from the total, so a broken query can't silently inflate or
  * deflate the headline number.
  */
object Bench {

  /** Per-query times from a BENCH_r*.json file's text. The driver stores the
    * bench stdout as a JSON-ESCAPED string field ("tail"), so in the raw file
    * every per-query entry reads `\"name\":0.123` — a plain `"name":t` regex
    * finds zero matches there (the round-5 dead-arbitration bug). Unescape
    * `\"` first, then match; `null` times (failed queries) are skipped by the
    * numeric pattern.
    */
  /** Top-level numeric fields that are NOT query times. `value` (the
    * headline total) matches the same `"k":1.23` shape as a query entry
    * and was silently captured as a phantom query named "value" — benign
    * only while no real query shares the name. Key exclusion (rather than
    * extracting the `queries` object) keeps the parser robust to the
    * driver's front-truncated tails, where the `"queries":{` marker may
    * be cut off. */
  private val ReservedKeys =
    Set("value", "n_ok", "n_fail", "sf", "action", "value_end",
      "load_start", "load_end", "load_waited_s", "anchor", "idle_retries")

  def parsePrevTimes(raw: String): Map[String, Double] = {
    val txt = raw.replace("\\\"", "\"")
    "\"([A-Za-z0-9_]+)\":([0-9]+\\.[0-9]+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filterNot { case (k, _) => ReservedKeys.contains(k) }.toMap
  }

  /** Per-query MEDIAN across several prior runs — the closing-sweep
    * reference. A single prior time can itself be an outlier (the exact
    * failure mode round 8 shipped: m3_knn_curve stamped at 10.6x its
    * same-session norm); the median over the recent same-sf, same-action
    * history is stable against any one noisy run. */
  def medianTimes(runs: Seq[Map[String, Double]]): Map[String, Double] = {
    runs.flatMap(_.toSeq).groupBy(_._1).map { case (k, kvs) =>
      val v = kvs.map(_._2).sorted
      k -> (if (v.size % 2 == 1) v(v.size / 2)
            else (v(v.size / 2 - 1) + v(v.size / 2)) / 2.0)
    }
  }

  /** Ratio of the current capture's total to the BEST comparable prior
    * full-suite row, over the queries the two runs share (r17 VERDICT
    * Next #1). For each history run covering ≥95% of the current ok-query
    * set, compare totals over the INTERSECTION of query names; the
    * MAXIMUM ratio is the one against the most-idle (smallest-total)
    * historical row — a floor that contaminated rows can only sit
    * ABOVE (a slow row yields a small ratio, which max ignores).
    * The 5-run per-query MEDIAN this replaces (for the total-level
    * anchors only) drifted upward with the very contention it was meant
    * to detect: BENCH_r16 and r17 both shipped +16-21% captures stamped
    * contended:false because their median window contained contended
    * runs. The per-query median keeps its job for the per-query closing
    * sweep, where a single query's luckiest-ever draw would be too
    * tight a gate. None when no history row shares enough queries. */
  def bestRowRatio(cur: Map[String, Double],
                   runs: Seq[Map[String, Double]]): Option[Double] = {
    if (cur.isEmpty) return None
    val need = math.ceil(cur.size * 0.95).toInt
    runs.flatMap { h =>
      val common = cur.keySet.intersect(h.keySet)
      if (common.size < need) None
      else {
        val ht = common.iterator.map(h).sum
        if (ht <= 0) None else Some(common.iterator.map(cur).sum / ht)
      }
    }.maxOption
  }

  /** Per-query minimum across comparable history runs — the host's
    * demonstrated floor for each query, used to pick total-arbitration
    * offenders by ABSOLUTE excess over that floor (excess seconds move
    * the headline; ratios don't). */
  def minTimes(runs: Seq[Map[String, Double]]): Map[String, Double] =
    runs.flatMap(_.toSeq).groupBy(_._1)
      .map { case (k, kvs) => k -> kvs.map(_._2).min }

  /** The measurement action this bench uses (stamped into the output JSON). */
  val Action = "noop"

  /** Era tag of a prior BENCH file: the `action` field if present, else
    * inferred from the round number — rounds >= 7 measured with the noop
    * sink, earlier rounds with `count()` (whose column pruning /
    * EliminateSorts made those times incomparable — r6 saw spurious
    * ">3x prev" third trials for every query whose honest cost exceeds
    * 3x its pruned cost). The round fallback exists because the driver's
    * BENCH file keeps only the TAIL of the stdout line: r7 stamped
    * `action` at the FRONT of the JSON, where truncation ate it — which
    * silently disarmed prev-round arbitration for all of round 7 (the
    * m5_dbscan_dist 9.9s outlier shipped unarbitrated). The stamp now
    * sits at the END of the line, inside any truncation window.
    */
  def parsePrevAction(raw: String, round: Int = Int.MaxValue): String = {
    val txt = raw.replace("\\\"", "\"")
    "\"action\":\"([A-Za-z0-9_]+)\"".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse(if (round >= 7) "noop" else "count")
  }

  /** Headline-only final record (r19 VERDICT Next #1). The driver keeps only
    * the last ~2 KB of the bench's stdout, and the full one-line JSON
    * (~8 KB at 261 queries) has overflowed that window since round 2 —
    * every BENCH_r*.json ships `"parsed": null`, leaving the driver's
    * per-query table, geomean and scaling block empty. The full per-query
    * line is still printed FIRST (unchanged contract, and the only line
    * appended to bench_history.jsonl); this compact line (~400 bytes) is
    * printed LAST so it lands intact inside any tail window. It carries
    * every headline field of the full line but NO `queries` map — the key
    * is omitted entirely (not `{}`) so a parser can never read it as
    * "zero queries ran"; per-query data lives in the full line and in
    * bench_history.jsonl, keyed by the shared `value_end` stamp.
    */
  def compactLine(total: Double, nOk: Int, nFail: Int, sfDir: String,
      sweepNote: String, escalated: Boolean, loadStart: Double,
      loadEnd: Double, loadWaited: Int, contended: Boolean, anchor: String,
      idleRetries: Int, gatePayer: String): String =
    s"""{"metric":"total_ok","value":$total,"unit":"sec","n_ok":$nOk,""" +
      s""""n_fail":$nFail,"sf":${jsonString(sfDir)},""" +
      s""""sweep":${jsonString(sweepNote)},"escalated":$escalated,""" +
      s""""action":${jsonString(Action)},"load_start":$loadStart,""" +
      s""""load_end":$loadEnd,"load_waited_s":$loadWaited,""" +
      s""""contended":$contended,"anchor":${jsonString(anchor)},""" +
      s""""idle_retries":$idleRetries,""" +
      s""""gate_payer":${jsonString(gatePayer)},"value_end":$total}"""

  /** The newest BENCH_r*.json strictly older than the in-flight round, so a
    * re-run inside a round that already wrote its own BENCH file never
    * arbitrates against itself. The in-flight round is SPARK_GRAFT_ROUND if
    * the driver sets it, else inferred as (max CORRECTNESS_r*.json round)+1 —
    * a round's CORRECTNESS file only exists once that round completed.
    */
  def prevBenchFile(files: Array[java.io.File],
                    roundEnv: Option[String] = sys.env.get("SPARK_GRAFT_ROUND"))
      : Option[java.io.File] = {
    def num(n: String): Int = n.replaceAll("\\D", "").toInt
    val inFlight: Int = roundEnv.flatMap(_.trim.toIntOption).getOrElse {
      val corr = files.map(_.getName).filter(_.matches("CORRECTNESS_r\\d+\\.json"))
      if (corr.isEmpty) Int.MaxValue else corr.map(num).max + 1
    }
    files.filter(f => f.getName.matches("BENCH_r\\d+\\.json") && num(f.getName) < inFlight)
      .sortBy(f => num(f.getName)).lastOption // numeric: r10 > r9
  }

  def main(args: Array[String]): Unit = {
    // the record line is machine-parsed JSON: every f"%.3f" below is
    // locale-dependent (fr_FR renders 1.063 as "1,063" — invalid JSON
    // that silently disarms parsePrevTimes and the whole arbitration
    // chain), so pin the JVM to ROOT before any formatting
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // 1-minute loadavg, stamped at start and end of the suite (r14
    // VERDICT #3): the official BENCH_r14 artifact ran concurrently with
    // DuckDB oracle sweeps and measured host contention (+10%) that was
    // indistinguishable from regression in the record itself. With the
    // markers, a reader of BENCH_r*.json alone can separate
    // gates-by-design, contention (load >> cpus), and real regressions.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Tables.session("graft-bench", "32")
    spark.sparkContext.setLogLevel("ERROR")
    // min of 2 runs per query: the first run pays one-off codegen/JIT
    // compilation (measured ~7x inflation on small inputs), which is not
    // the operator's steady-state cost.
    // SPARK_GRAFT_ONLY=q1,q2 limits the run to named queries (local
    // iteration aid; the driver leaves it unset → full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Previous-round per-query times (from the latest completed-round
    // BENCH_r*.json in the cwd, if any) drive the outlier re-run policy
    // below: a shared host can hand a query two loaded-window runs in a
    // row, and min-of-2 then reports a phantom regression (observed: 2.5s
    // query measured 15s; round 5 recorded three phantom 3-5x regressions
    // because this parser was dead — see BenchParseSpec).
    // Cross-era guard: prev times only arbitrate if they were measured
    // with the SAME action — comparing noop-sink times against count()-era
    // times fired a spurious third trial per honest query in round 6.
    // Primary source: bench_history.jsonl, which THIS bench appends after
    // every full-suite run — complete and untruncated, unlike the driver's
    // tail-captured BENCH_r file (see parsePrevAction). Falls back to the
    // newest prior-round BENCH_r*.json when no same-sf history exists yet.
    // all comparable history runs, newest last (same sf + same action);
    // Using closes the file handle (FileWriter-append below reopens it)
    val historyRuns: Seq[Map[String, Double]] = {
      val hist = new java.io.File("bench_history.jsonl")
      if (!hist.exists()) Seq.empty
      else scala.util.Using(scala.io.Source.fromFile(hist)) { src =>
        src.getLines()
          .filter(l => l.contains("\"sf\":" + jsonString(sfDir)) &&
            l.contains("\"action\":" + jsonString(Action)))
          .map(parsePrevTimes).toSeq
      }.getOrElse(Seq.empty)
    }
    val prevTimes: Map[String, Double] =
      historyRuns.lastOption.orElse {
        val cwd = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        prevBenchFile(cwd).map { f =>
          def num(n: String): Int = n.replaceAll("\\D", "").toInt
          val raw = new String(java.nio.file.Files.readAllBytes(f.toPath))
          if (parsePrevAction(raw, num(f.getName)) == Action) parsePrevTimes(raw)
          else Map.empty[String, Double]
        }
      }.getOrElse(Map.empty)
    // same-session reference for the PER-QUERY closing sweep: median over
    // the most recent comparable runs (5 covers a working day of
    // full-suite runs). The TOTAL-level anchors below deliberately do NOT
    // use this — see bestRowRatio.
    val sessionMedian: Map[String, Double] = medianTimes(historyRuns.takeRight(5))
    // per-query historical floor — offender selection for total arbitration
    val historyMin: Map[String, Double] = minTimes(historyRuns)
    // IDLE GUARD (r16 VERDICT wrong #2 / next #3): the r16 official
    // artifact was a contended-host capture — 198.8 s at load 1.70→3.94
    // where the same binary idles at 164.0 s — and every arbitration
    // layer below re-measured INSIDE the same contention window. The
    // history's own load markers give the host's demonstrated idle
    // floor; before the first timed run, wait (bounded) for the 1-min
    // loadavg to come back under idle + 1.5 so the measurement starts
    // outside the window, and stamp the wait into the artifact.
    val idleFloor: Option[Double] = {
      val hist = new java.io.File("bench_history.jsonl")
      if (!hist.exists()) None
      else scala.util.Using(scala.io.Source.fromFile(hist)) { src =>
        val marks = src.getLines()
          .filter(l => l.contains("\"sf\":" + jsonString(sfDir)) &&
            l.contains("\"action\":" + jsonString(Action)))
          .flatMap(l => "\"load_(?:start|end)\":([0-9.]+)".r
            .findAllMatchIn(l).map(_.group(1).toDouble))
          .toSeq
        if (marks.isEmpty) None else Some(marks.min)
      }.toOption.flatten
    }
    val loadGate: Option[Double] = idleFloor.map(f => f + 1.5)
    def waitOutLoad(maxS: Int): Int = loadGate match {
      case Some(g) =>
        var waited = 0
        while (loadAvg() > g && waited < maxS) {
          Thread.sleep(10000); waited += 10
        }
        if (waited > 0) System.err.println(
          f"[bench] idle guard: waited ${waited}s for load " +
            f"${loadAvg()}%.2f vs gate $g%.2f")
        waited
      case None => 0
    }
    val loadWaited = waitOutLoad(120)
    def runOnce(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      // shared-memo reset (flagship pair): outside the timed window, so
      // the fit-payer's stamp is the real pipeline cost every run
      SparkEntry.benchReset(name)
      val t0 = System.nanoTime()
      val ok =
        // noop sink, NOT count(): under count() the optimizer prunes
        // every column, which collapses projection-only queries to a
        // parquet metadata count and deletes sorts (EliminateSorts) —
        // the round-5 scan-battery numbers measured nothing. The noop
        // writer executes the full plan and discards rows.
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val measured = selected.map { case (name, fn) =>
      def once(): (Double, Boolean) = runOnce(name, fn)
      val (t1, ok1) = once()
      if (!ok1) (name, t1, false)
      else {
        // both runs must succeed: a second-run failure marks the query
        // failed rather than letting the abort-time duration join the min
        val (t2, ok2) = once()
        if (!ok2) (name, t1, false)
        else {
          val m = math.min(t1, t2)
          // outlier arbitration: a third trial when the SECOND run is >3x
          // the first (warm-up makes t2 <= t1 the normal profile, so a
          // slower t2 means run 2 hit a noise window — t1 >> t2 is just
          // JIT and must NOT trigger), or the min is >1.5x the previous
          // round's time for this query (both runs hit one — round 9
          // shipped llm_repetition at 2.24x and m3_knn_curve_approx at
          // 2.32x their medians because the old 3x gate let 2-3x
          // contention through). Sub-second numbers carry ~2x inherent
          // jitter: only arbitrate above 1s.
          val suspect = (t2 > 3 * t1 && t2 > 1.0) ||
            prevTimes.get(name).exists(p => m > 1.5 * p && m > 1.0)
          if (!suspect) (name, m, true)
          else {
            // two successful measurements already exist: a failed third
            // run can't unmeasure them — it just doesn't improve the min
            val (t3, ok3) = once()
            (name, if (ok3) math.min(m, t3) else m, true)
          }
        }
      }
    }
    // CLOSING SWEEP (round-9 VERDICT #4, tightened round 10): before
    // stamping the line that becomes the round's official record, re-run
    // any query whose final time is still >1.5x its same-session median —
    // the per-query arbitration above can itself land in a contention
    // window (round 8 shipped m3_knn_curve at 10.6x its same-session
    // norm; round 9's 3x gate still passed 2.2-2.3x outliers). Two
    // attempts, min wins; a query with no history arbitrates against
    // nothing and keeps its time. Anything STILL >1.5x after min-of-3 is
    // stamped into the output (`sweep` field) so the official record
    // carries its own explanation.
    val fnByName = selected.toMap
    // ONE outlier predicate for both the re-run gate and the stamped
    // sweep note — a second inline copy invites the two drifting apart
    def outlier(name: String, t: Double): Boolean =
      t > 1.0 && sessionMedian.get(name).exists(med => t > 1.5 * med)
    val results = measured.map {
      case r @ (name, t, true) if outlier(name, t) =>
        System.err.println(f"[bench] closing sweep: $name $t%.3f s > 1.5x " +
          f"session median ${sessionMedian(name)}%.3f s — re-running")
        val retries = (1 to 2).map(_ => runOnce(name, fnByName(name)))
          .collect { case (rt, true) => rt }
        (name, (t +: retries).min, true)
      case r => r
    }
    // TOTAL-LEVEL arbitration (round-10 VERDICT #2): the per-query 1.5x
    // gate cannot catch broad contention where EVERY query runs ~1.2x its
    // median — individually under the gate, collectively a 14% slower
    // total than a same-code run (r10 shipped 155.3s while 136.0s sat in
    // history). When the suite total exceeds 1.10x the sum of session
    // medians (over queries that have one), re-run the largest ABSOLUTE
    // offenders — excess seconds over median, not ratio, since that is
    // what moves the headline — min wins, bounded at 12 queries so the
    // pass stays a fraction of a full suite.
    // r17: ITERATED, with an idle wait between passes — r16's single
    // pass re-measured its offenders inside the same contention window
    // and shipped +21% over the idle row anyway. Up to 3 passes,
    // re-computing offenders each time; a still-elevated loadavg gets
    // waited out (bounded) before the re-measurement so at least one
    // pass lands outside the window.
    // r18 (VERDICT Next #1): the trigger anchors on the BEST comparable
    // history row (bestRowRatio), not the 5-run median total — the
    // median window contains contended captures, so its anchor drifted
    // up with the noise it was supposed to detect (BENCH_r16/r17 both
    // shipped +16-21% totals stamped contended:false). The gate is
    // 1.05x: the contract is now "within 5% of the round's best idle
    // row, or stamped contended:true" — no third state. Offender excess
    // is measured against the per-query historical MINIMUM (the floor),
    // for the same reason.
    @scala.annotation.tailrec
    def totalArb(cur: Seq[(String, Double, Boolean)], pass: Int)
        : Seq[(String, Double, Boolean)] = {
      val curMap = cur.collect { case (n, t, true) => n -> t }.toMap
      val ratio = bestRowRatio(curMap, historyRuns)
      if (ratio.forall(_ <= 1.05) || pass > 3) cur
      else {
        // any positive excess over the per-query floor qualifies: the
        // gate exists precisely for broad low-grade contention (every
        // query ~1.2x a sub-second floor), where no single excess
        // clears an absolute threshold. Queries ABSENT from history
        // (first run of a round's new entries) fall back to the
        // same-session median so they can still be picked (r19 ADVICE:
        // the r18 form made every new query invisible to this gate)
        val offenders = curMap.toSeq
          .flatMap { case (n, t) => historyMin.get(n)
            .orElse(sessionMedian.get(n)).map(f => (n, t - f)) }
          .filter(_._2 > 0).sortBy(-_._2).take(12).map(_._1).toSet
        System.err.println(f"[bench] total arbitration pass $pass: " +
          f"${ratio.get}%.3fx the best comparable history row (gate " +
          f"1.05x) — re-running ${offenders.size} largest offenders")
        if (pass > 1) { val _ = waitOutLoad(60) }
        val next = cur.map {
          case (name, t, true) if offenders(name) =>
            val retry = runOnce(name, fnByName(name))
            (name, if (retry._2) math.min(t, retry._1) else t, true)
          case r => r
        }
        totalArb(next, pass + 1)
      }
    }
    val arbResults = totalArb(results, 1)
    // SWEEP ESCALATION (round-11 VERDICT #1): when min-of-3 + the
    // total-level pass still leave sweep outliers, the contention window
    // has outlasted every targeted re-run — stamping alone ships numbers
    // up to 10x the code's real cost into the official record (r11:
    // m3_knn_curve at 5.12 s vs 0.44-0.51 s in five same-code runs). One
    // FULL-SUITE re-pass, merged per-query min: the bench total is
    // already a sum of per-run minimums, so the merge keeps the record's
    // semantics while giving every query one measurement outside the
    // window. Failures stay failures (a single re-pass success cannot
    // overturn the two-run failure verdict). Partial SPARK_GRAFT_ONLY
    // loops skip escalation — only the official full-suite record
    // justifies the extra pass.
    val (finalResults, escalated) = {
      val preSweep = arbResults.collect {
        case (name, t, true) if outlier(name, t) => name
      }
      if (preSweep.isEmpty || only.nonEmpty) (arbResults, false)
      else {
        System.err.println(s"[bench] sweep escalation: ${preSweep.size} " +
          "queries still >1.5x session median after arbitration " +
          s"(${preSweep.mkString(",")}) — full-suite re-pass")
        val rerun = selected.map { case (name, fn) =>
          name -> runOnce(name, fn)
        }.toMap
        (arbResults.map {
          case (name, t, true) => rerun.get(name) match {
            case Some((rt, true)) => (name, math.min(t, rt), true)
            case _ => (name, t, true)
          }
          case r => r
        }, true)
      }
    }
    // IDLE-CAPTURE RETRY (r19 — VERDICT r18 Next #5): all three r18
    // closing captures shipped contended (1.08–1.19× the best idle
    // row) because every arbitration level above re-measures within
    // minutes of the first pass — inside the same contention window.
    // When the record about to ship is still >1.05× the best
    // comparable history row, wait the load out on a LONGER horizon
    // (5 min, vs the 1–2 min per-pass waits) and give the whole suite
    // one more pass — up to 2 attempts, per-query min merged, failures
    // stay failures. Partial SPARK_GRAFT_ONLY runs skip: only the
    // official full-suite record justifies the extra passes.
    def ratioOf(rs: Seq[(String, Double, Boolean)]): Option[Double] =
      bestRowRatio(rs.collect { case (n, t, true) => n -> t }.toMap,
        historyRuns)
    var shipped = finalResults
    var idleRetries = 0
    while (only.isEmpty && idleRetries < 2 &&
        ratioOf(shipped).exists(_ > 1.05)) {
      idleRetries += 1
      System.err.println(f"[bench] idle-capture retry $idleRetries: " +
        f"total ${ratioOf(shipped).get}%.3fx the best comparable " +
        "history row - waiting out load, then full re-pass")
      val _ = waitOutLoad(300)
      val rerun = selected.map { case (name, fn) =>
        name -> runOnce(name, fn) }.toMap
      shipped = shipped.map {
        case (name, t, true) => rerun.get(name) match {
          case Some((rt, true)) => (name, math.min(t, rt), true)
          case _ => (name, t, true)
        }
        case r => r
      }
    }
    // queries whose time STILL exceeds 1.5x the session median after
    // every arbitration level: listed as name=ratio ('=' not ':' so
    // parsePrevTimes' "name":t regex can never mistake a sweep entry for
    // a query time)
    val sweepNote = shipped.collect {
      case (name, t, true) if outlier(name, t) =>
        f"$name=${t / sessionMedian(name)}%.2fx"
    }.mkString(",")
    val qs = shipped.map { case (k, v, ok) =>
      jsonString(k) + ":" + (if (ok) f"$v%.3f" else "null")
    }.mkString("{", ",", "}")
    val okTimes = shipped.collect { case (_, v, true) => v }
    val total = okTimes.sum
    val nFail = shipped.count(!_._3)
    // `action` stamped at the END: the driver keeps only the tail of this
    // line, and the era tag must survive that truncation (see above)
    // `value` sits at the FRONT of the line, which the driver's
    // tail-truncation eats (BENCH_r10's "parsed": null) — so the headline
    // total is ALSO stamped at the end as value_end, inside any
    // truncation window, making the shipped artifact self-contained
    // load markers stamped at the END (inside the driver's truncation
    // window, like action/value_end); ReservedKeys excludes them from
    // parsePrevTimes so they can never masquerade as query times
    val loadEnd = loadAvg()
    // payer attribution for the shared-gate memos (r15 VERDICT wrong
    // #2): benchReset makes these queries carry the whole shared build
    // while their family members stamp memo reads — a reader diffing
    // per-query rows across rounds needs that stated IN the artifact.
    // '=' not ':' so parsePrevTimes can never read these as times.
    val gatePayer = "llm_ann_topk=shared_exact_topk_memo_build," +
      "m_flagship_shape=flagship_w2v_dbscan_fit"
    // explicit contended verdict (r16 shipped a +21% artifact whose only
    // tell was load markers a cross-round reader had to interpret; r17's
    // median-anchored version then stamped a +16% capture
    // contended:false because the median window itself contained
    // contended runs): true when the final total exceeds 1.05x the BEST
    // comparable history row after every arbitration level. Two states
    // only — within 5% of the round's best idle row, or contended:true
    // (compare idle history rows, not this artifact, when set).
    // r19 (ADVICE): when NO history row shares enough queries,
    // contended:false would claim evidence that doesn't exist — the
    // `anchor` field says which it is ("none" = no comparable anchor,
    // else the measured ratio the verdict rests on).
    val anchorRatio = ratioOf(shipped)
    val contended = anchorRatio.exists(_ > 1.05)
    val anchor = anchorRatio.map(r => f"$r%.3f").getOrElse("none")
    val line = s"""{"metric":"total_ok","value":$total,"unit":"sec","queries":$qs,"n_ok":${okTimes.size},"n_fail":$nFail,"sf":${jsonString(sfDir)},"sweep":${jsonString(sweepNote)},"escalated":$escalated,"action":${jsonString(Action)},"load_start":$loadStart,"load_end":$loadEnd,"load_waited_s":$loadWaited,"contended":$contended,"anchor":${jsonString(anchor)},"idle_retries":$idleRetries,"gate_payer":${jsonString(gatePayer)},"value_end":$total}"""
    println(line)
    // compact headline-only final line — survives the driver's ~2 KB
    // stdout-tail capture, which the full line above has overflowed since
    // round 2 (see compactLine scaladoc). Printed AFTER the full line so
    // it is the last JSON in any tail window.
    println(compactLine(total, okTimes.size, nFail, sfDir, sweepNote,
      escalated, loadStart, loadEnd, loadWaited, contended, anchor,
      idleRetries, gatePayer))
    // full-suite runs feed the next run's arbitration via the (complete,
    // untruncated) local history; partial SPARK_GRAFT_ONLY runs do not.
    // Only the FULL line is appended — a history row without a queries
    // map would dilute medianTimes/bestRowRatio comparability checks.
    if (only.isEmpty) {
      val w = new java.io.FileWriter("bench_history.jsonl", true)
      try w.write(line + "\n") finally w.close()
    }
    spark.stop()
  }
}
