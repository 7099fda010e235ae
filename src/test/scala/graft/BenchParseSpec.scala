package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the bench record: both lines come from `Bench.record`, parse as
  * strict JSON, and the compact (last) line is the full line's headline
  * without the per-query map.
  */
class BenchParseSpec extends AnyFunSuite {

  private def parse(s: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)

  test("compact final line: small, headline-complete, no queries map") {
    // the compact line is the last stdout line: it must stay small however
    // many queries ran, carry every headline field, and OMIT the queries
    // key — an empty {} could read as "zero queries ran"
    val times = (1 to 261).map(i => f"q$i%03d" -> Some(0.5))
    val c = Bench.record(times, sfDir = "/data/sf0.1",
      loadStart = 2.2197265625, loadEnd = 2.33642578125, full = false)
    assert(c.length < 600, s"compact line too long: ${c.length}")
    assert(c.startsWith("{") && c.endsWith("}"))
    assert(!c.contains("\"queries\""))
    for (k <- Seq("metric", "value", "unit", "n_ok", "n_fail", "sf",
        "action", "load_start", "load_end", "gate_payer", "value_end"))
      assert(c.contains("\"" + k + "\":"), s"missing key $k")
    assert(!c.contains("\n"))
    assert(c.count(_ == '{') == 1 && c.count(_ == '}') == 1)
  }

  test("compact line stays strict JSON when the data path holds quote, backslash and tab") {
    // SPARK_GRAFT_SF_DIR is user input: a quote, backslash or tab in it
    // must still leave one strict JSON object
    val sf = "/tmp/a\"b\\c\td"
    val c = Bench.record(Seq("q1" -> Some(1.5)), sfDir = sf,
      loadStart = 0.5, loadEnd = 0.6, full = false)
    val node = parse(c)
    assert(node.get("sf").asText == sf)
    assert(node.get("n_ok").asInt == 1)
    assert(node.get("value_end").asDouble == 1.5)
  }

  test("full and compact lines parse, and differ only by the queries map") {
    val times = Seq("q1" -> Some(1.0), "q\"2" -> None, "q3" -> Some(0.25))
    def line(full: Boolean) = Bench.record(times, sfDir = "/data/sf0.01",
      loadStart = 0.5, loadEnd = 0.6, full = full)
    val f = parse(line(full = true))
    val c = parse(line(full = false))
    assert(c.fieldNames.asScala.toList ==
      f.fieldNames.asScala.filterNot(_ == "queries").toList)
    val q = f.get("queries")
    assert(q.get("q1").asDouble == 1.0 && q.get("q\"2").isNull)
    assert(f.get("value").asDouble == 1.25 && f.get("n_fail").asInt == 1)
    assert(c.get("n_ok").asInt == 2)
  }
}
