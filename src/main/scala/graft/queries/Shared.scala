package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one memo for frames several declared queries share (the l4/l14 pair
  * frame, the l15/l21 quality frame, the IVF fit, the cluster labels, …),
  * keyed by what the frame computes: (session, data dir or canonical input
  * plan string, tag).
  *
  * Why a memo and not Spark's `CacheManager` alone: frames built over a
  * lazy `localCheckpoint` (the pair and containment frames) hold a fresh
  * `LogicalRDD`, whose equality compares the RDD by reference, so a rebuilt
  * frame never matches the earlier cache entry; and an eager build
  * (`Graph.connectedComponents`) would re-run its jobs on every rebuild. The memo hands back the frame it holds instead.
  *
  * Policy, for every shared frame:
  *  - `build` runs OUTSIDE the map update; `putIfAbsent` installs the
  *    first result and every racing caller gets that frame back;
  *  - only the installed frame is `.cache()`d, so racing callers leave one
  *    `CacheManager` entry and the losers' frames are just dropped;
  *  - every hit re-caches a frame whose `storageLevel` reads NONE, so after
  *    `spark.catalog.clearCache()` the next use caches it again instead of
  *    serving it uncached. That check-and-cache holds the frame's lock:
  *    Spark 4.1's `cacheQuery` is not safe for two threads caching one plan
  *    at once (the loser's `InMemoryRelation.withOutput` can fail with
  *    "key not found" on an output attribute);
  *  - [[clear]] is the one eviction routine: it unpersists and forgets
  *    every frame, which also drops the memo's references to the frames'
  *    local-checkpoint RDDs so the context cleaner can release them. */
private[queries] object Shared {

  private val frames =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  def frame(s: SparkSession, key: String, tag: String)(build: => DataFrame): DataFrame = {
    val f = frames.get((s, key, tag)) match {
      case Some(f) => f
      case None =>
        val built = build
        frames.putIfAbsent((s, key, tag), built).getOrElse(built)
    }
    f.synchronized { if (f.storageLevel == StorageLevel.NONE) f.cache() else f }
  }

  /** The key of a frame memoized by its input plan rather than a data dir:
    * the canonicalized analyzed plan (alias/exprId-insensitive, exact). */
  def planKey(df: DataFrame): String = df.queryExecution.analyzed.canonicalized.toString

  def clear(): Unit =
    frames.keys.foreach(k => frames.remove(k).foreach { f => f.unpersist(); () })
}
