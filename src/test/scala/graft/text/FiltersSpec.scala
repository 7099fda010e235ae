package graft.text

import graft.SparkSpec

class FiltersSpec extends SparkSpec {
  import spark.implicits._

  private val longGood = (1 to 60).map(i => s"word$i the of and").mkString(" ")

  test("gopherRules: each rule fires on its designed violation") {
    val docs = Seq(
      (0L, longGood),                                     // passes all
      (1L, "too short the of"),                           // word count < 50
      (2L, (1 to 60).map(_ => "a").mkString(" ") + " the of"), // mean word len < 3
      (3L, (1 to 60).map(i => s"w$i#...#").mkString(" ") + " the of"), // symbols
      (4L, (1 to 60).map(i => s"- bullet $i line the of").mkString("\n")), // bullets
      (5L, (1 to 60).map(i => s"trailing $i the of...").mkString("\n")), // ellipses
      (6L, (1 to 60).map(_ => "12345").mkString(" ") + " the of"), // non-alpha
      (7L, (1 to 60).map(i => s"zzz$i qqq").mkString(" ")))    // no stopwords
      .toDF("doc_id", "text")
    val r = Filters.gopherRules(docs, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(r(0L), "clean doc should pass")
    (1L to 7L).foreach(id => assert(!r(id), s"doc $id should fail"))
    // signal sanity on the designed violations
    val s = Filters.gopherRules(docs, "doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(s(2L).getAs[Double]("mean_word_len") < 3.0)
    assert(s(3L).getAs[Double]("sym_ratio") >= 0.1)
    assert(s(4L).getAs[Double]("bullet_frac") > 0.9)
    assert(s(5L).getAs[Double]("ellipsis_frac") > 0.3)
    assert(s(6L).getAs[Double]("alpha_frac") < 0.8)
    assert(s(7L).getAs[Long]("stop_hits") < 2L)
  }

  test("c4Clean keeps terminal-punct >=5-word lines; drops lorem/brace docs") {
    val docs = Seq(
      (0L, "This line has five good words.\nshort one.\nNo terminal punct here at all\nAnother proper sentence stands right here!"),
      (1L, "Lorem Ipsum dolor sit amet is boilerplate."),
      (2L, "if (x) { return; } this is code."),
      (3L, ""))
      .toDF("doc_id", "text")
    val r = Filters.c4Clean(docs, "doc_id", "text")
      .as[(Long, Long, String)].collect().map(x => x._1 -> x).toMap
    assert(r(0L)._2 == 2L)
    assert(r(0L)._3 ==
      "This line has five good words.\nAnother proper sentence stands right here!")
    assert(r(1L)._2 == 0L && r(1L)._3 == "") // lorem ipsum drop
    assert(r(2L)._2 == 0L && r(2L)._3 == "") // curly-brace drop
    assert(r(3L)._2 == 0L && r(3L)._3 == "")
  }

  test("maskPii masks emails, IPv4s, phones and counts matches") {
    val docs = Seq(
      (0L, "mail bob.smith+x@example.co.uk and carol@test.org now"),
      (1L, "server at 192.168.0.1 and 10.0.0.255 responded"),
      (2L, "call 555-123-4567 or 555.987.6543 today"),
      (3L, "nothing sensitive here"))
      .toDF("doc_id", "text")
    val r = Filters.maskPii(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(0L)._2 == "mail <EMAIL> and <EMAIL> now" && r(0L)._3 == 2L)
    assert(r(1L)._2 == "server at <IP> and <IP> responded" && r(1L)._4 == 2L)
    assert(r(2L)._2 == "call <PHONE> or <PHONE> today" && r(2L)._5 == 2L)
    assert(r(3L)._2 == "nothing sensitive here" &&
      r(3L)._3 + r(3L)._4 + r(3L)._5 == 0L)
  }

  test("boilerplateStrip removes over-threshold lines everywhere, keeps at-threshold") {
    // "boiler" appears 3 times with maxCount=2 -> stripped from ALL
    // three docs (first occurrence included — the contrast with
    // globalLineDedup); "edge" appears exactly 2 times = maxCount -> kept
    val docs = Seq(
      (0L, "unique zero\nboiler\nedge"),
      (1L, "boiler\nedge\nunique one"),
      (2L, "boiler"),
      (3L, "all mine\nonly here"))
      .toDF("doc_id", "text")
    val r = Filters.boilerplateStrip(docs, "doc_id", "text", maxCount = 2L)
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r.size == 4) // every doc keeps a row
    assert(r(0L) == ((0L, "unique zero\nedge", 2L, 1L)))
    assert(r(1L) == ((1L, "edge\nunique one", 2L, 1L)))
    assert(r(2L) == ((2L, "", 0L, 1L))) // fully stripped, still present
    assert(r(3L) == ((3L, "all mine\nonly here", 2L, 0L)))
  }

  test("boilerplateStrip with no over-threshold lines is identity on text") {
    val docs = Seq((0L, "a\nb"), (1L, "c")).toDF("doc_id", "text")
    val r = Filters.boilerplateStrip(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(0L) == ((0L, "a\nb", 2L, 0L)))
    assert(r(1L) == ((1L, "c", 1L, 0L)))
  }
}
