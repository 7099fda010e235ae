package graft.core

import org.apache.spark.sql.SparkSession

/** The one memo for driver-side values the queries of a session share
  * (parquet schemas, fixture views, the j3c fixture, the flagship fit,
  * the ANN gates' exact top-k). `SessionMemo(s, key, resetBy = tag)(build)`
  * builds the value for `(s, key)` at most once. Entries are held weakly
  * by the session object (a DataFrame value references its session, so it
  * stays until reset). A build holds only its own key's lock, so it may
  * read another key and never holds up another key's lookup; a build that
  * throws leaves no value, and the next call builds again.
  *
  * Reset rule: [[reset]]`(tag)` drops every entry built with that tag, in
  * every session; untagged entries live as long as their session. The tag
  * names the query that pays for the shared build, so a bench reset before
  * that query stamps the real build cost on it. A dropped `AutoCloseable`
  * is closed only while its session's context is alive: a stopped
  * context's block manager is gone (unpersist throws a
  * NullPointerException there), and its cached blocks went with it.
  *
  * Out of scope: SparkEntry's fixture link dirs, st10 topic dirs and s17
  * sinks are files and servers under the per-JVM `Util.scratchDir` root
  * that any session may use (JVM-scoped `computeIfAbsent` maps);
  * `DedupComputeRewrite`'s probe cache is an optimizer LRU keyed by the
  * canonical plan, not by session. */
object SessionMemo {
  private final class Slot(val tag: Option[String]) {
    var value: Option[Any] = None
  }

  private val sessions =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[Any, Slot]]()

  def apply[V](s: SparkSession, key: Any, resetBy: String = null)
              (build: => V): V = {
    val slot = sessions.synchronized {
      sessions.computeIfAbsent(s, _ => new java.util.HashMap[Any, Slot]())
        .computeIfAbsent(key, _ => new Slot(Option(resetBy)))
    }
    slot.synchronized {
      if (slot.value.isEmpty) slot.value = Some(build)
      slot.value.get.asInstanceOf[V]
    }
  }

  /** Drops and closes `tag`'s entries in every session (see above); a
    * build of that tag in flight finishes first. */
  def reset(tag: String): Unit = {
    import scala.jdk.CollectionConverters._
    val dropped = sessions.synchronized {
      sessions.asScala.toSeq.flatMap { case (s, slots) =>
        slots.asScala.filter(_._2.tag.contains(tag)).toSeq
          .map { case (k, slot) => slots.remove(k); s -> slot }
      }
    }
    dropped.foreach { case (s, slot) =>
      slot.synchronized {
        slot.value.foreach {
          case c: AutoCloseable if !s.sparkContext.isStopped => c.close()
          case _ =>
        }
        slot.value = None
      }
    }
  }
}
