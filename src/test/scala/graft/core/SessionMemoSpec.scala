package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.gates.ScaleGates
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[SessionMemo]]: one build per (session, key), a cold new session, a
  * retried failed build, a tag reset that closes what it drops in every
  * session and nothing else, and per-key build locks. Also the ratchet
  * that keeps every per-session memo on it. */
class SessionMemoSpec extends SparkSpec {
  import spark.implicits._

  test("builds once per (session, key); a new session starts cold") {
    val builds = new AtomicInteger
    def get(s: org.apache.spark.sql.SparkSession, k: Int) =
      SessionMemo(s, ("SessionMemoSpec.once", k)) {
        builds.incrementAndGet(); s"v$k"
      }
    assert(get(spark, 1) == "v1" && get(spark, 1) == "v1")
    assert(builds.get == 1)
    assert(get(spark, 2) == "v2" && builds.get == 2)
    val other = spark.newSession()
    assert(get(other, 1) == "v1" && builds.get == 3)
    assert(get(other, 1) == "v1" && get(spark, 1) == "v1")
    assert(builds.get == 3)
  }

  test("a build that throws leaves no value and is retried") {
    val calls = new AtomicInteger
    def get() = SessionMemo(spark, "SessionMemoSpec.throws") {
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("x")
      calls.get
    }
    intercept[IllegalStateException](get())
    assert(get() == 2 && get() == 2 && calls.get == 2)
  }

  test("reset(tag) drops and closes that tag's entries in every session, " +
    "and only those") {
    val closed = new AtomicInteger
    final class Res extends AutoCloseable {
      def close(): Unit = closed.incrementAndGet()
    }
    val other = spark.newSession()
    def tagged(s: org.apache.spark.sql.SparkSession) =
      SessionMemo(s, "SessionMemoSpec.tagged", resetBy = "spec-a")(new Res)
    def untagged(s: org.apache.spark.sql.SparkSession) =
      SessionMemo(s, "SessionMemoSpec.untagged")(new Res)
    def otherTag(s: org.apache.spark.sql.SparkSession) =
      SessionMemo(s, "SessionMemoSpec.otherTag", resetBy = "spec-b")(new Res)
    val before = Seq(spark, other).flatMap(s =>
      Seq(tagged(s), untagged(s), otherTag(s)))
    SessionMemo.reset("spec-a")
    assert(closed.get == 2)
    val after = Seq(spark, other).flatMap(s =>
      Seq(tagged(s), untagged(s), otherTag(s)))
    assert(before.zip(after).map { case (a, b) => a eq b } ==
      Seq(false, true, true, false, true, true))
    SessionMemo.reset("no-such-tag")
    assert(closed.get == 2)

    // the ANN gate context: its corpus is unpersisted on reset
    val emb = (0L until 30L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 1.3 + d).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def ctx() = ScaleGates.annCtx(emb, "vec_id", "embedding",
      dirKey = "SessionMemoSpec", n = 30L, nq = 3, k = 3)
    val c = ctx()
    assert(c.corpus.storageLevel != StorageLevel.NONE)
    assert(ctx() eq c)
    SessionMemo.reset("llm_ann_topk")
    assert(c.corpus.storageLevel == StorageLevel.NONE)
    val rebuilt = ctx()
    assert(!(rebuilt eq c))
    SessionMemo.reset("llm_ann_topk")
  }

  test("a build that reads another key does not deadlock") {
    val f = Future {
      SessionMemo(spark, "SessionMemoSpec.outer") {
        SessionMemo(spark, "SessionMemoSpec.inner")(20) + 1
      }
    }
    assert(Await.result(f, 30.seconds) == 21)
  }

  test("a build blocked on a latch does not block another key's lookup") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Future {
      SessionMemo(spark, "SessionMemoSpec.slow") {
        started.countDown()
        release.await(60, TimeUnit.SECONDS)
        "slow"
      }
    }
    try {
      assert(started.await(30, TimeUnit.SECONDS))
      val fast = Future(SessionMemo(spark, "SessionMemoSpec.fast")("fast"))
      assert(Await.result(fast, 30.seconds) == "fast")
      assert(!slow.isCompleted)
    } finally release.countDown()
    assert(Await.result(slow, 30.seconds) == "slow")
  }

  test("WeakHashMap appears in src/main/scala only in core/SessionMemo") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val walk = java.nio.file.Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(java.nio.file.Paths.get("graft/core/SessionMemo.scala")))
      .filter(p => java.nio.file.Files.readString(p).contains("WeakHashMap"))
      .map(_.toString).toSeq
    finally walk.close()
    assert(offenders.isEmpty,
      s"per-session memos belong on SessionMemo: $offenders")
  }
}
