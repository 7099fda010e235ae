package graft.text

import graft.SparkSpec

class CleanSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalUrl: case, ports, slashes, utm params, fragments") {
    val in = Seq(
      "HTTP://ExAmple.COM:80/Docs/7/?utm_source=a&id=3&utm_x=b#frag",
      "http://example.com/Docs/7?id=3",          // canonical twin of ^
      "https://Host.NET:443",                    // default port + bare host
      "https://host.net:8443/",                  // NON-default port kept
      "http://h.io/a//",                         // run of trailing slashes
      "http://h.io/?utm_only=1#x",               // all params dropped
      "ftp://Host.org:80/file",                  // :80 NOT http's default? kept
      "http://h.io//",                           // ALL-slash path → "/"
      "http://h.io///"                           // longer all-slash run
    ).toDF("u")
    val got = in.select(Clean.canonicalUrl($"u").as("c")).as[String].collect()
    assert(got(0) == "http://example.com/Docs/7?id=3")
    assert(got(1) == got(0)) // messy and clean forms collide
    assert(got(2) == "https://host.net/")
    assert(got(3) == "https://host.net:8443/")
    assert(got(4) == "http://h.io/a")
    assert(got(5) == "http://h.io/")
    assert(got(6) == "ftp://host.org:80/file") // non-http scheme keeps :80
    // the r8 advisor bug: '//' stripped to '' (not '/') and missed the
    // collision with the bare-host form — the whole point of the pre-pass
    assert(got(7) == "http://h.io/")
    assert(got(8) == "http://h.io/")
  }

  test("canonicalUrl is idempotent (canonical output re-canonicalizes to itself)") {
    val in = Seq(
      "HTTP://ExAmple.COM:80/Docs/7/?utm_source=a&id=3#frag",
      "https://Host.NET:443",
      "http://h.io/a//?x=1&y=2",
      "http://h.io//",
      "ftp://Host.org:80/file").toDF("u")
    val once = in.select(Clean.canonicalUrl($"u").as("c"))
    val twice = once.select(Clean.canonicalUrl($"c").as("c"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("cleanMessage masks in reference order: line, uid, uuid, ws-norm") {
    val in = Seq(
      "error at line: 42  in job",
      "token d41d8cd98f00b204e980 found",
      "id 123e4567-e89b-42d3-a456-426614174000 gone",
      "  spaced   out  ").toDF("t")
    val out = in.select(Clean.cleanMessage($"t").as("c")).as[String].collect()
    assert(out(0) == "error at line LINE_NUMBER in job")
    assert(out(1) == "token UID found")
    // the uuid's 12-char tail is UID-masked first (reference order quirk,
    // applied faithfully): full uuid no longer matches the UUID regex
    assert(out(2).contains("UID"))
    assert(out(3) == "spaced out")
  }

  test("fuzzRatio: symmetric, 100 on equal, bounded [0,100]") {
    val df = Seq(("kitten", "sitting"), ("same", "same"), ("", "")).toDF("a", "b")
    val r = df.select(
      Clean.fuzzRatio($"a", $"b").as("ab"),
      Clean.fuzzRatio($"b", $"a").as("ba")).collect()
    r.foreach { row =>
      val (ab, ba) = (row.getDouble(0), row.getDouble(1))
      assert(ab == ba)
      assert(ab >= 0 && ab <= 100)
    }
    assert(r(1).getDouble(0) == 100.0)
    assert(r(2).getDouble(0) == 100.0)
  }

  test("tokenizeTreebankish splits punctuation, keeps paths") {
    val out = Seq("read /a/b/c.log failed [io error], retry!")
      .toDF("t").select(Clean.tokenizeTreebankish($"t").as("tk"))
      .as[Seq[String]].head()
    assert(out.contains("/a/b/c.log"))
    assert(out.contains("["))
    assert(out.contains("]"))
    assert(out.contains(","))
    assert(out.contains("!"))
    assert(!out.contains(""))
  }

  test("tokenizeTreebankFull: published Treebank cascade behavior") {
    def tok(s: String): Seq[String] =
      Seq(s).toDF("t").select(Clean.tokenizeTreebankFull($"t").as("tk"))
        .as[Seq[String]].head()
    // commas/colons split unless followed by a digit (times/numbers kept)
    assert(tok("hello, world") == Seq("hello", ",", "world"))
    assert(tok("at 5:30 sharp") == Seq("at", "5:30", "sharp"))
    assert(tok("fields: a b") == Seq("fields", ":", "a", "b"))
    // only the FINAL period splits; interior dots (paths, versions) stay
    assert(tok("see /var/log/x.log.") ==
      Seq("see", "/var/log/x.log", "."))
    assert(tok("v1.2.3 ok") == Seq("v1.2.3", "ok"))
    // ellipsis, ?!, brackets, double-dash
    assert(tok("wait... what?!") == Seq("wait", "...", "what", "?", "!"))
    assert(tok("(a) [b] -- c") == Seq("(", "a", ")", "[", "b", "]", "--", "c"))
    // quotes become ``/'' pairs
    assert(tok("\"quoted\"") == Seq("``", "quoted", "''"))
    // contractions: n't / 's / MacIntyre pairs
    assert(tok("can't stop") == Seq("ca", "n't", "stop"))
    assert(tok("it's fine") == Seq("it", "'s", "fine"))
    assert(tok("cannot gonna wanna go") ==
      Seq("can", "not", "gon", "na", "wan", "na", "go"))
    assert(tok("") == Seq.empty)
  }

  test("splitWs matches python str.split semantics") {
    val out = Seq("  a  b\tc  ").toDF("t")
      .select(Clean.splitWs($"t").as("tk")).as[Seq[String]].head()
    assert(out == Seq("a", "b", "c"))
  }
}
