package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the cross-round outlier-arbitration inputs. Round 5's parser was
  * dead code — the per-query times in a real BENCH_r*.json sit inside the
  * JSON-escaped "tail" string as `\"name\":0.123`, which the old plain-quote
  * regex never matched, so `prevTimes` was always empty and the ">3x previous
  * round" re-run trigger could not fire (BENCH_r05 shipped three phantom
  * regressions). These tests feed the REAL file format.
  */
class BenchParseSpec extends AnyFunSuite {

  // verbatim shape of a driver-written BENCH file: escaped tail, null parsed
  private val fixture =
    """{
      |  "n": 5,
      |  "rc": 0,
      |  "cpus": 32,
      |  "sf": 0.1,
      |  "tail": "t\":0.121,\"a3_value_counts\":0.209,\"m3_knn_curve\":0.790,\"m3_approx\":1.860,\"st1_hourly\":null,\"total_ok\":57.7",
      |  "parsed": null
      |}""".stripMargin

  test("parsePrevTimes matches escaped tail entries") {
    val t = Bench.parsePrevTimes(fixture)
    assert(t("a3_value_counts") == 0.209)
    assert(t("m3_knn_curve") == 0.79)
    assert(t("m3_approx") == 1.86)
    assert(!t.contains("st1_hourly")) // null time → skipped
  }

  test("parsePrevTimes never reads gate_payer entries as query times") {
    // the r16 payer-attribution note uses name=tag pairs — the '='
    // keeps them outside the "name":digits time pattern by construction
    val line = """{"queries":{"q1_pricing":0.5},""" +
      """"gate_payer":"llm_ann_topk=shared_exact_topk_memo_build,""" +
      """m_flagship_shape=flagship_w2v_dbscan_fit","value_end":0.5}"""
    val t = Bench.parsePrevTimes(line)
    assert(t == Map("q1_pricing" -> 0.5), s"got $t")
  }

  test("parsePrevTimes is non-empty on the actual BENCH_r05.json") {
    val p = java.nio.file.Paths.get("BENCH_r05.json")
    assume(java.nio.file.Files.exists(p), "repo-root BENCH_r05.json present")
    val t = Bench.parsePrevTimes(new String(java.nio.file.Files.readAllBytes(p)))
    assert(t.size > 50, s"expected the full per-query map, got ${t.size}")
    assert(t.contains("llm_dup_groups"))
  }

  test("parsePrevAction distinguishes bench eras (mixed-era fixture)") {
    // untagged file + round < 7 → count era, incomparable
    assert(Bench.parsePrevAction(fixture, round = 5) == "count")
    // untagged file + round >= 7 → noop era: r7 stamped the tag at the
    // FRONT of the JSON line, where the driver's tail-capture truncated
    // it away — the round number is the only surviving era witness
    assert(Bench.parsePrevAction(fixture, round = 7) == "noop")
    // r7+ file: the action tag rides inside the escaped tail like the times
    val noopFixture = fixture.replace(
      "t\\\":0.121", "action\\\":\\\"noop\\\",\\\"t\\\":0.121")
    assert(Bench.parsePrevAction(noopFixture, round = 5) == "noop")
    // unescaped (self-written) JSON works too
    assert(Bench.parsePrevAction("""{"action":"noop","queries":{}}""") == "noop")
    // the real BENCH_r06.json predates the tag → count era at its round
    val p = java.nio.file.Paths.get("BENCH_r06.json")
    if (java.nio.file.Files.exists(p))
      assert(Bench.parsePrevAction(
        new String(java.nio.file.Files.readAllBytes(p)), round = 6) == "count")
  }

  test("prevBenchFile picks newest file strictly older than in-flight round") {
    def f(n: String) = new java.io.File(n)
    val files = Array(f("BENCH_r04.json"), f("BENCH_r05.json"), f("BENCH_r06.json"),
      f("CORRECTNESS_r04.json"), f("CORRECTNESS_r05.json"), f("other.txt"))
    // env override wins
    assert(Bench.prevBenchFile(files, Some("6")).map(_.getName).contains("BENCH_r05.json"))
    assert(Bench.prevBenchFile(files, Some("5")).map(_.getName).contains("BENCH_r04.json"))
    // inferred: max CORRECTNESS round 5 → in-flight 6 → exclude r06 (self)
    assert(Bench.prevBenchFile(files, None).map(_.getName).contains("BENCH_r05.json"))
    // numeric ordering, not lexicographic: r10 beats r9
    val many = Array(f("BENCH_r09.json"), f("BENCH_r10.json"))
    assert(Bench.prevBenchFile(many, Some("11")).map(_.getName).contains("BENCH_r10.json"))
    // no files → None
    assert(Bench.prevBenchFile(Array(f("CORRECTNESS_r05.json")), None).isEmpty)
  }

  test("parsePrevTimes excludes reserved top-level numerics (the value phantom)") {
    // a self-written history line: the headline "value" pair matches the
    // same "k":1.23 shape as a query entry and must NOT become a phantom
    // query time (it would arbitrate any future query named 'value', and
    // bloat the median map)
    val line = """{"metric":"total_ok","value":484.123,"unit":"sec",""" +
      """"queries":{"q1_pricing":1.063,"o4_head":0.115},"n_ok":111,""" +
      """"n_fail":0,"sf":"/root/testdata/sf0.1","action":"noop",""" +
      """"load_start":2.41,"load_end":31.07,"value_end":484.123}"""
    val t = Bench.parsePrevTimes(line)
    assert(t == Map("q1_pricing" -> 1.063, "o4_head" -> 0.115))
    assert(!t.contains("value"))
    // value_end is the tail-stamped headline total (the driver truncates
    // the front-stamped value away) — it must not become a phantom query
    assert(!t.contains("value_end"))
    // r15 host-load markers (contention forensics) are reserved too
    assert(!t.contains("load_start") && !t.contains("load_end"))
  }

  test("a sweep-field entry can never be parsed as a query time") {
    // the closing sweep stamps unresolved outliers as name=ratio inside a
    // string field; '=' (not ':') keeps them invisible to the "k":1.23
    // regex, so a swept query's RATIO can't poison its future medians
    val line = """{"metric":"total_ok","value":10.5,"unit":"sec",""" +
      """"queries":{"q1_pricing":1.063,"llm_repetition":3.057},"n_ok":2,""" +
      """"n_fail":0,"sf":"/root/testdata/sf0.1",""" +
      """"sweep":"llm_repetition=2.24x","action":"noop"}"""
    val t = Bench.parsePrevTimes(line)
    assert(t == Map("q1_pricing" -> 1.063, "llm_repetition" -> 3.057))
  }

  test("medianTimes is per-query median, robust to one outlier run") {
    val runs = Seq(
      Map("a" -> 0.5, "b" -> 2.0),
      Map("a" -> 0.55, "b" -> 2.2),
      Map("a" -> 5.79, "b" -> 2.1), // the r8 m3-style contention outlier
      Map("a" -> 0.52))
    val med = Bench.medianTimes(runs)
    // even-count median of a: (0.52+0.55)/2; the 5.79 outlier cannot move it
    assert(math.abs(med("a") - 0.535) < 1e-9)
    assert(math.abs(med("b") - 2.1) < 1e-9)
    assert(Bench.medianTimes(Seq.empty).isEmpty)
  }

  test("bestRowRatio anchors on the single best row, unmoved by contamination") {
    // r17 VERDICT Next #1: the median anchor drifted up when its window
    // held contended runs; the best-row anchor is a floor contamination
    // can only sit above. Three history rows — one idle (10.0 total) and
    // two contended (12.0, 13.0): a 10.5-total capture must read 1.05x
    // regardless of how many contended rows the history holds.
    val idle = Map("a" -> 4.0, "b" -> 6.0)
    val contended1 = Map("a" -> 5.0, "b" -> 7.0)
    val contended2 = Map("a" -> 5.5, "b" -> 7.5)
    val cur = Map("a" -> 4.2, "b" -> 6.3) // 10.5 total
    val r = Bench.bestRowRatio(cur, Seq(contended1, idle, contended2))
    assert(r.exists(v => math.abs(v - 1.05) < 1e-9))
    // the contaminated-only history still anchors (on its best row)
    val r2 = Bench.bestRowRatio(cur, Seq(contended1, contended2))
    assert(r2.exists(v => math.abs(v - 10.5 / 12.0) < 1e-9))
    // comparability gate: a history row missing >5% of the current
    // query set cannot anchor (20-query current vs 18-query row)
    val cur20 = (1 to 20).map(i => s"q$i" -> 1.0).toMap
    val row18 = (1 to 18).map(i => s"q$i" -> 1.0).toMap
    assert(Bench.bestRowRatio(cur20, Seq(row18)).isEmpty)
    // ...but a row missing 1 of 20 (95%) compares over the intersection
    val row19 = (1 to 19).map(i => s"q$i" -> 0.5).toMap
    assert(Bench.bestRowRatio(cur20, Seq(row19)).exists(v =>
      math.abs(v - 2.0) < 1e-9))
    // no history, empty current: no verdict
    assert(Bench.bestRowRatio(cur, Seq.empty).isEmpty)
    assert(Bench.bestRowRatio(Map.empty, Seq(idle)).isEmpty)
  }

  test("minTimes is the per-query historical floor") {
    val runs = Seq(
      Map("a" -> 0.5, "b" -> 2.2),
      Map("a" -> 0.45, "b" -> 2.0),
      Map("a" -> 5.79))
    assert(Bench.minTimes(runs) == Map("a" -> 0.45, "b" -> 2.0))
    assert(Bench.minTimes(Seq.empty).isEmpty)
  }

  test("compact final line: small, headline-complete, no queries map") {
    // r19 VERDICT Next #1: the driver's ~2 KB stdout-tail capture has
    // truncated the full per-query line since round 2 ("parsed": null in
    // every BENCH_r*.json). The compact line printed last must (a) fit any
    // plausible tail window with room for sbt's trailing lines, (b) carry
    // every headline field, (c) OMIT the queries key — an empty {} could
    // read as "zero queries ran" / "261 dropped from bench".
    val c = Bench.compactLine(total = 192.845667199, nOk = 261, nFail = 0,
      sfDir = "/root/testdata/sf0.1", sweepNote = "", escalated = true,
      loadStart = 2.2197265625, loadEnd = 2.33642578125, loadWaited = 30,
      contended = true, anchor = "1.109", idleRetries = 2,
      gatePayer = "llm_ann_topk=shared_exact_topk_memo_build," +
        "m_flagship_shape=flagship_w2v_dbscan_fit")
    assert(c.length < 600, s"compact line too long: ${c.length}")
    assert(c.startsWith("{") && c.endsWith("}"))
    assert(!c.contains("\"queries\""))
    for (k <- Seq("metric", "value", "unit", "n_ok", "n_fail", "sf", "sweep",
        "escalated", "action", "load_start", "load_end", "load_waited_s",
        "contended", "anchor", "idle_retries", "gate_payer", "value_end"))
      assert(c.contains("\"" + k + "\":"), s"missing key $k")
    // parseable as one strict JSON object (Spark's JSON reader via a
    // trivial check: balanced braces, no raw newline, quoted strings)
    assert(!c.contains("\n"))
    assert(c.count(_ == '{') == 1 && c.count(_ == '}') == 1)
    // the compact line must contribute ZERO phantom query times if a
    // parser ever feeds it through parsePrevTimes (e.g. in a BENCH tail)
    assert(Bench.parsePrevTimes(c).isEmpty, Bench.parsePrevTimes(c).toString)
  }

  test("compact line stays strict JSON when the data path holds quote, backslash and tab") {
    // SPARK_GRAFT_SF_DIR is user input: a quote, backslash or tab in it
    // must still leave one strict JSON object
    val sf = "/tmp/a\"b\\c\td"
    val c = Bench.compactLine(total = 1.5, nOk = 1, nFail = 0, sfDir = sf,
      sweepNote = "q1=2.00x", escalated = false, loadStart = 0.5,
      loadEnd = 0.6, loadWaited = 0, contended = false, anchor = "none",
      idleRetries = 0, gatePayer = "")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(c)
    assert(node.get("sf").asText == sf)
    assert(node.get("sweep").asText == "q1=2.00x")
    assert(node.get("n_ok").asInt == 1)
  }

  test("r19 artifact fields (anchor, idle_retries) never parse as query times") {
    // anchor is a QUOTED decimal and idle_retries an un-dotted int —
    // neither matches the "name":1.23 shape — and both sit in
    // ReservedKeys besides, so a future format change can't leak them
    val line = """{"metric":"total_ok","value":12.345,""" +
      """"queries":{"q1":1.500,"q2":2.250},"contended":false,""" +
      """"anchor":"1.063","idle_retries":2,"load_start":0.95,""" +
      """"action":"noop","value_end":12.345}"""
    assert(Bench.parsePrevTimes(line) == Map("q1" -> 1.5, "q2" -> 2.25))
  }
}
