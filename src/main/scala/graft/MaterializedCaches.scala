package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** A (session, sfDir)-keyed cache of a shared artifact computed once and
  * consumed by several queries: a persisted DataFrame ([[DfCache]]), a
  * driver-side scalar or model, or the path of an on-disk artifact.
  * Every instance registers itself, so [[MaterializedCaches.invalidateAll]]
  * releases all of them.
  *
  * Staleness caveat (all three kinds, and the parquet schemas
  * [[graft.sources.Tables]] holds in one): entries are keyed by path, not
  * by file content — if the parquet files under an sfDir are rewritten
  * while a JVM holds an entry, consumers keep reading the stale DataFrame
  * blocks, scalar, artifact or schema until
  * [[MaterializedCaches.invalidateAll]] (or [[clear]]) is called. Tools
  * and tests that rewrite inputs must invalidate first; long-lived
  * multi-session apps should invalidate when retiring a session so the
  * strong session references and their storage blocks are released. A path entry is only forgotten: its files stay on
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

/** A [[SessionCache]] of persisted DataFrames: [[getOrElseUpdate]]
  * persists the frame it stores, and release unpersists it.
  */
final class DfCache(name: String)
    extends SessionCache[DataFrame](name, _.unpersist(blocking = false)) {
  override def getOrElseUpdate(key: (SparkSession, String), compute: => DataFrame): DataFrame =
    super.getOrElseUpdate(key, { val df = compute; MaterializedCaches.cacheOnce(df); df })
}

/** The one owner of DataFrame storage: nothing else in the engine calls
  * `persist` or `unpersist` on a DataFrame. Three calls cache a frame:
  *   - [[DfCache.getOrElseUpdate]]: a shared artifact, held until its
  *     cache is cleared ([[invalidateAll]]);
  *   - [[persistOnce]]: a query-local temporary that the query's lazy
  *     output reads, recorded and released by the enclosing [[scoped]]
  *     (or by [[invalidateAll]]);
  *   - [[persisting]]: a temporary read only by an eager body, released
  *     when the body returns.
  *
  * Spark keeps one cache entry per plan: a second `persist()` of the same
  * plan only warns "Asked to cache already cached data" and reads the
  * first entry. So each call caches a frame only when its plan is not
  * cached yet, and releases only what it cached itself. The release rule:
  * a temporary goes through `Dataset.unpersist`, which drops the
  * `CacheManager` entry with the blocks (unpersisting the RDD alone
  * leaves a stale entry that the next identical plan reads uncached), and
  * never while its blocks back a [[DfCache]] frame.
  */
object MaterializedCaches {
  private val all = TrieMap.empty[String, SessionCache[_]]
  // persistOnce's temporaries, keyed by a sequence number so a scope
  // releases exactly those recorded since it began
  private val temps = TrieMap.empty[Long, DataFrame]
  private val nextTemp = new AtomicLong

  // a second cache under one name would hide the first from invalidateAll
  private[graft] def register(c: SessionCache[_]): Unit =
    require(all.putIfAbsent(c.name, c).isEmpty, s"cache name ${c.name} registered twice")

  /** Release and forget every cached shared artifact and every recorded
    * temporary across all modules.
    */
  def invalidateAll(): Unit = { all.values.foreach(_.clear()); releaseTemps(0L) }

  /** Each registered cache's name with its entry count, by name. */
  private[graft] def registered: Seq[(String, Int)] =
    all.toSeq.map { case (n, c) => n -> c.values.size }.sortBy(_._1)

  /** Persist `df` unless its plan is already cached; true when this call
    * cached it.
    */
  private[graft] def cacheOnce(df: DataFrame): Boolean =
    df.storageLevel == StorageLevel.NONE && { df.persist(); true }

  /** `df`, persisted unless its plan is already cached; a frame this call
    * cached is recorded as a temporary of the enclosing [[scoped]].
    */
  def persistOnce(df: DataFrame): DataFrame = {
    if (cacheOnce(df)) temps.put(nextTemp.getAndIncrement(), df)
    df
  }

  /** Run `body` with `dfs` persisted (in order, so a later frame's cached
    * plan reads an earlier one), then release those this call cached.
    */
  def persisting[T](dfs: DataFrame*)(body: => T): T = {
    val cached = dfs.filter(cacheOnce)
    try body finally cached.reverse.foreach(_.unpersist(blocking = false))
  }

  /** Run `body`, then release what it cached: first each temporary
    * [[persistOnce]] recorded during `body`, then every RDD persisted
    * during `body` (the [[graft.operators.Iterate]] and `localCheckpoint`
    * blocks), in both cases unless its blocks back a [[DfCache]] frame.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val from = nextTemp.get
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body finally {
      val held = releaseTemps(from)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id) && !held(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  /** Unpersists the temporaries recorded since `from` whose blocks back
    * no [[DfCache]] frame (and forgets them all); returns the ids of the
    * RDDs backing DfCache frames.
    */
  private def releaseTemps(from: Long): Set[Int] = {
    val held = allDfs.flatMap(df =>
      try Bridge.cachedRddIds(df) catch { case _: Exception => Nil }).toSet
    temps.keys.filter(_ >= from).foreach(k => temps.remove(k).foreach { df =>
      try if (!Bridge.cacheEntryRddId(df).exists(held)) df.unpersist(blocking = false)
      catch { case _: Exception => () } // a stopped session's frame: nothing to free
    })
    held
  }

  /** Every DataFrame currently held by any [[DfCache]]. */
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
