package graft.core

import org.apache.spark.sql.SparkSession

/** Small shared utilities that had started to be re-derived inline
  * (r12 review): conf scoping, JSON string escaping, filesystem
  * recursive delete, the per-JVM scratch root, the shuffle-write meter
  * used by specs, and the
  * job counter of graft.One and the job-budget specs.
  */
object Util {

  /** Set `confs`, run `body`, restore every key to its prior value
    * (or unset it) even on failure. */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])
                  (body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `s` as a JSON string literal: quote, backslash and ALL control
    * chars (< 0x20) escaped — a tab or CR in query SQL or a data path
    * would otherwise make a strict JSON reader reject the record. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Recursive delete; closes the walk stream (a bare Files.walk holds
    * a directory fd until GC). No-op when the path doesn't exist. */
  def deleteRecursively(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
          .sortBy(_.getNameCount)(Ordering[Int].reverse)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }

  /** The JVM's one scratch root, created on first use under the system
    * temp dir and deleted by the single shutdown hook registered with it.
    * Everything a query writes for its own use (stream link dirs,
    * checkpoints, round-trip copies read lazily after the body returns)
    * lives below it, so nothing outlives the JVM and no hook is added
    * per call. */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(root)))
    root
  }

  /** A new, empty directory `tag<random>` under [[scratchRoot]]. A caller
    * whose output no longer reads it may delete it early; otherwise it
    * goes when the JVM exits. */
  def scratchDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, tag)

  /** Drop a managed table AND clear its (possibly orphaned) warehouse
    * directory. A fresh session's catalog doesn't know tables a
    * previous JVM materialized, but the warehouse dir survives —
    * `saveAsTable` then fails with LOCATION_ALREADY_EXISTS, and one
    * mid-block failure wedges every later run. (The j3cAutoProjection
    * pattern, shared so audit/spec fixtures can't re-derive it wrong.) */
  def dropTableAndLocation(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
        .getPath).resolve(name)
    deleteRecursively(loc)
  }

  /** Run `body` under a fresh job group and count the Spark jobs it
    * started, through the status tracker rather than a listener of our
    * own. The tracker is fed by the listener bus, so the count is re-read
    * until two reads 50 ms apart agree. Returns (result, seconds, jobs). */
  def jobsIn[A](spark: SparkSession, label: String)(body: => A)
      : (A, Double, Int) = {
    val sc = spark.sparkContext
    val group = s"$label-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, label)
    val t0 = System.nanoTime()
    val r = try body finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    def jobs = sc.statusTracker.getJobIdsForGroup(group).length
    var last = -1
    var now = jobs
    while (now != last) { Thread.sleep(50); last = now; now = jobs }
    (r, secs, now)
  }
}
