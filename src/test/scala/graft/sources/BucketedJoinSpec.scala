package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bucketed-table contract: a join of two tables bucketed on the
  * join key plans with NO shuffle of either side — the write-once
  * hash-once co-location that makes recurring 100-TB joins affordable.
  * (Broadcast is disabled for the assertion — with it on, small fixtures
  * broadcast and the bucket claim would be vacuous.) */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed x bucketed equi-join: SortMergeJoin, zero Exchange") {
    val tmp = graft.core.Util.scratchDir("graft_bkspec")
    Sources.writeBucketed(
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_totalprice"),
      "graft_bkspec_o", tmp.resolve("o").toString, "o_orderkey", 4)
    Sources.writeBucketed(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity"),
      "graft_bkspec_l", tmp.resolve("l").toString, "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkspec_o")
        .join(spark.table("graft_bkspec_l"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" +
        plan.take(2000))
      // and the answer matches the plain (shuffling) join
      val expected = spark.read.parquet(s"$sfDir/orders.parquet")
        .join(spark.read.parquet(s"$sfDir/lineitem.parquet"),
          col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == expected && expected > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bkspec_o")
      spark.sql("DROP TABLE IF EXISTS graft_bkspec_l")
    }
  }
}
