package graft.text

import graft.SparkSpec

/** Semantic gate for the char-trigram LM score (the exact-value gate is
  * the DuckDB oracle on llm_charlm_nll): fluent text under the training
  * distribution must score LOWER NLL than character junk, and docs with
  * no trigram positions are excluded. */
class CharLmSpec extends SparkSpec {
  import spark.implicits._

  test("junk scores worse than in-distribution text; short docs excluded") {
    val fluent = Seq(
      "the transfer failed with a connection timeout to the remote host",
      "the checksum of the replica does not match the expected value",
      "the connection to the remote storage host timed out again",
      "a replica checksum mismatch was detected during the transfer")
    val train = fluent.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (tri, pre, a) = CharLm.train(train, "text")
    val score = Seq(
      (100L, "the transfer to the remote host timed out"), // in-distribution
      (101L, "zq xv jkw qqzx vbn mmzp wq kjx zzv qpw"),    // junk
      (102L, "ab"))                                        // too short
      .toDF("doc_id", "text")
    val out = CharLm.nllScore(score, "doc_id", "text", tri, pre, a)
      .as[(Long, Double)].collect().toMap
    assert(!out.contains(102L), "length<3 docs have no trigram positions")
    assert(out(100L) < out(101L),
      s"fluent ${out(100L)} should score below junk ${out(101L)}")
  }
}
