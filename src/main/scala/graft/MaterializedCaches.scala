package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** A (session, sfDir)-keyed cache of a shared artifact computed once and
  * consumed by several queries: a persisted DataFrame ([[DfCache]]), a
  * driver-side scalar or model, or the path of an on-disk artifact.
  * Every instance registers itself, so [[MaterializedCaches.invalidateAll]]
  * releases all of them.
  *
  * Staleness caveat (all three kinds): entries are keyed by path, not by
  * file content — if the parquet files under an sfDir are rewritten while
  * a JVM holds an entry, consumers keep reading the stale DataFrame
  * blocks, scalar or artifact until [[MaterializedCaches.invalidateAll]]
  * (or [[clear]]) is called. Tools and tests that rewrite inputs must
  * invalidate first; long-lived multi-session apps should invalidate when
  * retiring a session so the strong session references and their storage
  * blocks are released. A path entry is only forgotten: its files stay on
  * disk, a temp directory until [[TempArtifacts]] deletes it at JVM exit.
  *
  * @param release frees an entry's resources when it is dropped
  */
class SessionCache[V](val name: String, release: V => Unit = (_: V) => ()) {
  private val m = TrieMap.empty[(SparkSession, String), V]
  MaterializedCaches.register(this)

  def getOrElseUpdate(key: (SparkSession, String), compute: => V): V =
    m.getOrElseUpdate(key, compute)

  /** Replace the entry, releasing the one it replaces (a producer query
    * refreshing its model).
    */
  def put(key: (SparkSession, String), v: V): Unit = m.put(key, v).foreach(release)

  private[graft] def values: Seq[V] = m.values.toSeq

  /** Release every entry and drop it (incl. the strong SparkSession
    * references).
    */
  def clear(): Unit = {
    m.values.foreach(v => try release(v) catch { case _: Exception => () })
    m.clear()
  }
}

/** A [[SessionCache]] of persisted DataFrames, unpersisted on release. */
final class DfCache(name: String)
    extends SessionCache[DataFrame](name, _.unpersist(blocking = false))

/** Registry of every [[SessionCache]] in the engine, so one call releases
  * all shared artifacts (see the staleness caveat on [[SessionCache]]).
  */
object MaterializedCaches {
  private val all = TrieMap.empty[String, SessionCache[_]]

  // a second cache under one name would hide the first from invalidateAll
  private[graft] def register(c: SessionCache[_]): Unit =
    require(all.putIfAbsent(c.name, c).isEmpty, s"cache name ${c.name} registered twice")

  /** Release and forget every cached shared artifact across all modules. */
  def invalidateAll(): Unit = all.values.foreach(_.clear())

  /** Each registered cache's name with its entry count, by name. */
  private[graft] def registered: Seq[(String, Int)] =
    all.toSeq.map { case (n, c) => n -> c.values.size }.sortBy(_._1)

  /** Persist `df` unless its plan is already cached; true when this call
    * cached it. Spark keeps one cache entry per plan: a second persist()
    * only warns "Asked to cache already cached data" and reads the first
    * entry, and only the caller that cached it may unpersist it — a lazy
    * frame built earlier on the same plan still reads it.
    */
  def persistOnce(df: DataFrame): Boolean =
    df.storageLevel == StorageLevel.NONE && { df.persist(); true }

  /** Every DataFrame currently held by any [[DfCache]] — the protected
    * set for the bench's between-queries storage janitor.
    */
  private[graft] def allDfs: Seq[DataFrame] =
    all.values.toSeq.collect { case c: DfCache => c.values }.flatten
}

/** JVM-lifetime registry of temporary on-disk artifacts (the materialized
  * IVF-PQ index, the month-partitioned orders layout): [[create]] returns
  * a fresh temp directory AND registers it for recursive deletion by a
  * single shutdown hook, so repeated short-lived runs (tests, bench
  * iterations, the verify driver) do not accumulate orphaned index
  * directories in /tmp. `deleteOnExit` alone cannot do this — it deletes
  * only empty directories and would need every future file pre-registered.
  */
object TempArtifacts {
  private val dirs = TrieMap.empty[String, Unit]

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    dirs.keys.foreach { d =>
      try {
        val p = Path.of(d)
        if (Files.exists(p))
          Files.walk(p).sorted(Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
      } catch { case _: Exception => () } // best-effort: never fail shutdown
    }
  }, "graft-temp-artifacts-cleanup"))

  /** A fresh temp directory, registered for deletion at JVM exit. */
  def create(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.put(d, ())
    d
  }
}
