package graft.util

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one registry for what several queries of a session share: the
  * lineitem graph and its triangles, the jaccard and winnow pair
  * graphs, the brute top-k truth, scan split counts, table schemas.
  * Each consumer says at its call site why the value is worth sharing.
  *
  * An entry is keyed by (session UUID, memo name, table dir) and lives
  * only while
  *  - its session is reachable (the registry holds it weakly),
  *  - its SparkContext is running, and
  *  - for a memoized frame, the frame is still cached.
  * Every lookup first drops the entries that no longer live, so no key
  * or value pins a finished session. A lookup whose own frame was
  * unpersisted (e.g. by `catalog.clearCache()`) rebuilds and
  * re-persists it rather than handing back the uncached plan.
  */
object SessionMemo {

  /** The persist level of every memoized frame (`.cache()`'s level). */
  val level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  private final case class Key(session: String, name: String, dir: String)

  private final class Entry(session: SparkSession) {
    private val owner = new WeakReference(session)
    /** None while the first build runs. */
    @volatile var value: Option[Any] = None

    def live: Boolean = value.forall { v =>
      Option(owner.get).exists(!_.sparkContext.isStopped) && (v match {
        case ds: Dataset[_] => ds.storageLevel != StorageLevel.NONE
        case _ => true
      })
    }
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()

  /** The session's persisted `build` for (name, dir), built on a miss. */
  def frame(spark: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame =
    lookup(spark, name, dir)(build.persist(level))

  /** The session's `compute` for (name, dir), computed on a miss. */
  def value[A](spark: SparkSession, name: String, dir: String)(compute: => A): A =
    lookup(spark, name, dir)(compute)

  private def lookup[A](spark: SparkSession, name: String, dir: String)(
      build: => A): A = {
    entries.values.removeIf(!_.live)
    val key = Key(sessionId(spark), name, dir)
    val entry = entries.computeIfAbsent(key, _ => new Entry(spark))
    // per-entry lock: a build may look up other entries (the triangles
    // read the lineitem graph), never its own
    entry.synchronized {
      if (entry.value.isEmpty || !entry.live) {
        entry.value = Some(build)
        // a concurrent sweep may have dropped the dead entry meanwhile
        entries.put(key, entry)
      }
      entry.value.get.asInstanceOf[A]
    }
  }

  /** `sessionUUID` is private[sql] at the Scala level but public in the
    * bytecode of the classic session every entry point builds. */
  private[graft] def sessionId(spark: SparkSession): String =
    spark.getClass.getMethod("sessionUUID").invoke(spark).asInstanceOf[String]

  /** Session UUIDs holding at least one entry. */
  private[graft] def sessions: Set[String] = {
    val b = Set.newBuilder[String]
    entries.keySet.forEach(k => b += k.session)
    b.result()
  }
}
