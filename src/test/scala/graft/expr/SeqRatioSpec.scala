package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** GraftSeqRatio vs ground truth captured from CPython
  * `difflib.SequenceMatcher(None, a, b).ratio()` (values generated with
  * difflib directly — incl. the autojunk cases where |b| ≥ 200). */
class SeqRatioSpec extends SparkSpec {
  import spark.implicits._

  // (a, b, difflib ratio, int(round(100*ratio)))
  private val truth: Seq[(String, String, Double, Int)] = Seq(
    ("abcd", "badc", 0.5, 50), // transposition-heavy: levenshtein form disagrees here
    ("transfer failed", "transfre failed", 0.9333333333333333, 93),
    ("", "", 1.0, 100),
    ("", "abc", 0.0, 0),
    ("abc", "abc", 1.0, 100),
    ("kitten", "sitting", 0.6153846153846154, 62),
    ("error at line 5", "error at line 7", 0.9333333333333333, 93),
    ("the quick brown fox", "quick brown the fox", 0.7894736842105263, 79),
    ("aaaa", "aaab", 0.75, 75),
    ("ab" * 150, "ba" * 150, 0.0, 0),              // autojunk: all chars popular
    ("x" * 250, "x" * 199 + "y" * 51, 0.796, 80))  // popular-char extension

  // ≥200-char word-soup pairs where spaces are autojunk-POPULAR but must
  // still extend as non-junk (difflib's isbjunk tests the explicit junk
  // set, empty for None — treating popular as junk diverged ~1% of pairs)
  private val interleaved: Seq[(String, String, Double)] = Seq(
      ("auth x auth auth x retry timeout error x auth checksum retry error failed auth disk error failed x checksum transfer retry node auth checksum retry checksum error retry transfer x failed transfer transfer timeout timeout retry transfer auth quota",
       "auth retry timeout x timeout checksum disk auth transfer checksum failed auth checksum disk node x failed disk quota timeout x disk transfer failed retry failed node failed disk node failed transfer checksum transfer timeout timeout transfer auth node node",
       0.06374501992031872),
      ("node failed retry checksum timeout checksum disk quota failed disk quota transfer node failed error timeout failed transfer transfer auth auth error checksum x timeout auth x timeout error node checksum node failed node node timeout transfer disk retry disk",
       "transfer timeout error node retry checksum retry failed transfer error timeout auth disk transfer retry quota disk node failed failed failed timeout retry checksum timeout transfer retry quota quota retry auth error retry auth retry error node error checksum error",
       0.053742802303262956),
      ("disk timeout retry timeout timeout error checksum x timeout checksum node auth retry failed node transfer failed failed transfer x disk timeout node disk node retry auth disk x error failed error timeout auth x checksum retry retry failed disk",
       "timeout timeout transfer failed disk node auth timeout transfer transfer error disk quota x retry error failed quota error auth quota checksum x retry error retry transfer transfer auth quota disk transfer transfer retry checksum failed auth failed disk quota",
       0.02390438247011952),
      ("error failed failed auth x quota transfer error quota quota failed checksum auth failed node transfer auth retry transfer retry checksum node node retry transfer retry failed failed failed checksum failed disk node quota node retry auth auth auth x",
       "error failed failed auth x quota transfre error quota quota failed checksum auth failed node transfre auth retry transfre retry checksum node node retry transfer retry failed failed failed checksum failed disk node quota node retry auth auth auth x",
       0.9032258064516129))

  test("kernel matches difflib bit-for-bit, incl. autojunk") {
    truth.foreach { case (a, b, r, _) =>
      assert(SeqRatio.ratio(a, b) == r, s"ratio('$a','$b')")
    }
  }

  test("autojunk-popular chars still extend matches (difflib parity >=200 chars)") {
    interleaved.foreach { case (a, b, r) =>
      assert(SeqRatio.ratio(a, b) == r,
        s"ratio mismatch: got ${SeqRatio.ratio(a, b)}, difflib $r")
    }
  }

  test("expression + Clean.fuzzRatioExact agree with the kernel") {
    GraftFunctions.ensureRegistered(spark)
    val df = truth.map { case (a, b, _, _) => (a, b) }.toDF("a", "b")
    val got = df.select(
        call_function("graft_seq_ratio", $"a", $"b").as("r"),
        graft.text.Clean.fuzzRatioExact($"a", $"b").as("f"))
      .as[(Double, Int)].collect()
    got.zip(truth).foreach { case ((r, f), (_, _, er, ef)) =>
      assert(r == er && f == ef)
    }
  }

  test("symmetry is NOT guaranteed (difflib is b-indexed) but null propagates") {
    GraftFunctions.ensureRegistered(spark)
    val n = Seq((Option.empty[String], Some("x"))).toDF("a", "b")
      .select(call_function("graft_seq_ratio", $"a", $"b")).head()
    assert(n.isNullAt(0))
  }
}
