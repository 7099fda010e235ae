package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S11 heterogeneous JSON ingestion: part-files with differing column
  * subsets union-merge into one schema with null-filling (the reference's
  * 23-col day shard vs 59-col full file, rucio_data_access_HDFS.ipynb:
  * 295-319). */
class SchemaMergeSpec extends SparkSpec {
  import spark.implicits._

  test("disjoint-subset shards union-merge; missing columns null-fill") {
    val tmp = graft.core.Util.scratchDir("graft_sm")
    Sources.writeJson(Seq((1L, "a")).toDF("id", "only_a"),
      tmp.resolve("a").toString)
    Sources.writeJson(Seq((2L, 9L)).toDF("id", "only_b"),
      tmp.resolve("b").toString)
    val df = Sources.readJsonUnion(spark,
      tmp.resolve("a").toString, tmp.resolve("b").toString)
    assert(df.columns.sorted.toSeq == Seq("id", "only_a", "only_b"))
    val rows = df.select("id", "only_a", "only_b")
      .as[(Long, Option[String], Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, Some("a"), None), (2L, None, Some(9L))))
  }

  test("subset-of-superset shards (the day-shard vs full-file shape)") {
    val tmp = graft.core.Util.scratchDir("graft_sm2")
    // narrow shard holds a strict subset of the wide shard's columns
    Sources.writeJson(Seq((1L, "s1")).toDF("id", "src"),
      tmp.resolve("narrow").toString)
    Sources.writeJson(Seq((2L, "s2", "en", 10L))
        .toDF("id", "src", "lang", "n"),
      tmp.resolve("wide").toString)
    val df = Sources.readJsonUnion(spark,
      tmp.resolve("narrow").toString, tmp.resolve("wide").toString)
    val rows = df.select("id", "src", "lang", "n")
      .as[(Long, String, Option[String], Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq ==
      Seq((1L, "s1", None, None), (2L, "s2", Some("en"), Some(10L))))
  }

  test("explicit merged schema skips inference, same null-filling") {
    val tmp = graft.core.Util.scratchDir("graft_sm3")
    Sources.writeJson(Seq((1L, "x")).toDF("id", "a"),
      tmp.resolve("p1").toString)
    Sources.writeJson(Seq((2L, 5L)).toDF("id", "b"),
      tmp.resolve("p2").toString)
    // the 100-TB path from the readJsonUnion scaladoc: hand the reader
    // the merged schema so no sampling pass happens
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", StringType), StructField("b", LongType)))
    val df = spark.read.schema(schema)
      .json(tmp.resolve("p1").toString, tmp.resolve("p2").toString)
    val rows = df.select("id", "a", "b")
      .as[(Long, Option[String], Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, Some("x"), None), (2L, None, Some(5L))))
  }
}
