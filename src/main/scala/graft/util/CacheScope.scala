package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The one owner of cached intermediate frames: the only place in the
  * engine that names a storage level or releases a cache.
  *
  * A cache has one of two lifetimes. A FUNCTION cache dies inside the
  * function that made it: the body runs in `CacheScope.run { s => }`,
  * caches through `s.cache`, and the scope releases what it registered
  * in a `finally`, on return and on a throw alike; a loop drops its
  * superseded frontier with `s.release`. A scope registers only frames
  * it cached itself (a plan cached already keeps its owner), so scopes
  * on concurrent [[Overlap.both]] branches never free each other's
  * caches. A QUERY cache outlives its function because the returned
  * frame reads it (an eager pair set, a final frontier, a prepared
  * decontamination handle): it is cached with [[CacheScope.handOff]],
  * or is a bare `localCheckpoint`, and the query boundary
  * [[CacheScope.query]] releases both after the consumer's action.
  * Outside a boundary a hand-off stays cached for the session. */
final class CacheScope private {
  private val owned = mutable.ArrayBuffer.empty[DataFrame]

  /** `df`, cached until this scope ends. */
  def cache(df: DataFrame): DataFrame = {
    if (CacheScope.persistOnce(df)) synchronized { owned += df }
    df
  }

  /** Release a frame this scope cached before the scope ends. */
  def release(df: DataFrame): Unit =
    if (disown(df)) df.unpersist(blocking = false)

  /** Move a frame this scope cached to the query lifetime. */
  def handOff(df: DataFrame): DataFrame = {
    if (disown(df)) CacheScope.register(df)
    df
  }

  private def disown(df: DataFrame): Boolean = synchronized {
    val i = owned.indexWhere(_ eq df)
    if (i >= 0) owned.remove(i)
    i >= 0
  }

  private def releaseAll(): Unit =
    synchronized(owned.reverse.toList).foreach(release)
}

object CacheScope {
  /** Hand-offs made while a query boundary is open, else null. One
    * JVM-wide slot: [[Overlap.both]] runs query code on pool threads. */
  @volatile private var open: mutable.ArrayBuffer[DataFrame] = null

  /** Persist `df` unless its plan is cached already; true if it was not. */
  private def persistOnce(df: DataFrame): Boolean =
    df.storageLevel == StorageLevel.NONE &&
      { df.persist(StorageLevel.MEMORY_AND_DISK); true }

  private def register(df: DataFrame): Unit = {
    val q = open
    if (q != null) q.synchronized { q += df }
  }

  /** Run `body` with a fresh function scope. */
  def run[T](body: CacheScope => T): T = {
    val s = new CacheScope
    try body(s) finally s.releaseAll()
  }

  /** `df`, cached until the enclosing [[query]] boundary closes. */
  def handOff(df: DataFrame): DataFrame = {
    if (persistOnce(df)) register(df)
    df
  }

  /** The query boundary: run `body` (build a query, run its action),
    * then release every [[handOff]] made meanwhile through
    * `Dataset.unpersist`, and every `localCheckpoint` RDD that appeared
    * meanwhile. It never unpersists the RDD under a cache entry
    * directly (that would leave a stale `InMemoryRelation` for a later
    * identical plan to read uncached), and leaves caches made before
    * it, or made outside this object, alone. The hand-off slot and the
    * persisted-RDD diff are session-wide, so the boundary is exact only
    * while one query at a time runs on the session. */
  def query[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val outer = open
    val mine = mutable.ArrayBuffer.empty[DataFrame]
    open = mine
    try body
    finally {
      open = outer
      mine.synchronized(mine.reverse.toList)
        .foreach(_.unpersist(blocking = false))
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id) && Bridge.isLocalCheckpoint(rdd))
          rdd.unpersist(blocking = false)
      }
    }
  }
}
