package graft

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The dfs_cache analogue (the fork's headline feature:
  * be/src/dfs_cache/dfs-cache.h — transparent local-disk LRU cache of
  * remote files, with a "Prepare" prefetch + progress-estimation API,
  * dfs-cache.h:86-145).
  *
  * On Spark the layered-storage role is played by the block manager:
  * `persist(MEMORY_AND_DISK)` gives exactly the reference's
  * remote→local-disk spill semantics, LRU eviction included — so the shim
  * is thin on purpose. What this object preserves from the reference is
  * the *API shape*: an async `prepare` (warm the cache ahead of queries)
  * and a `progress` estimate, which the reference exposed to let a
  * coordinator schedule work against warm data.
  */
object Caching {

  /** Register a dataset for cached access (remote parquet → local
    * memory/disk). Lazy, like dfsOpenFile: nothing is fetched yet. */
  def cached(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** "Prepare" prefetch (dfs-cache.h:86-105): warm the cache in the
    * background; the returned future completes when fully materialized. */
  def prepare(df: DataFrame)(implicit ec: ExecutionContext): Future[Long] = {
    cached(df)
    Future { df.count() }
  }

  /** Progress estimation (dfs-cache.h:120-145): fraction of the dataset's
    * cached blocks already resident (memory or local disk). Resolves the
    * df's OWN InMemoryRelation buffer RDDs (via the plan after cache
    * substitution) — matching by `df.rdd.id` would miss every time and
    * read some unrelated cached RDD's stats. 0.0 if `df` isn't cached. */
  def progress(df: DataFrame): Double = {
    val ids = org.apache.spark.sql.graftcache.CacheIntrospect.cachedRddIds(df)
    if (ids.isEmpty) 0.0
    else {
      val statuses = df.sparkSession.sparkContext.getRDDStorageInfo
      val fracs = ids.map { id =>
        statuses.find(_.id == id)
          .map(i => i.numCachedPartitions.toDouble / math.max(i.numPartitions, 1))
          .getOrElse(0.0)
      }
      fracs.sum / fracs.size
    }
  }

  /** Cache residency statistics (cache-mgr.cc's space accounting):
    * bytes of this dataset currently held in memory and on local disk.
    * (0, 0) if `df` isn't cached or nothing has materialized yet. */
  def stats(df: DataFrame): (Long, Long) = {
    val ids = org.apache.spark.sql.graftcache.CacheIntrospect.cachedRddIds(df).toSet
    val infos = df.sparkSession.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  /** Drop from the cache (uncache/evict). */
  def release(df: DataFrame): Unit = df.unpersist()
}
