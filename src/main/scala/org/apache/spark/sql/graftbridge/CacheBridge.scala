package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.CachedRDDBuilder

/** Bridge to the session's CacheManager, whose lookup takes the classic
  * Dataset that Spark 4 keeps behind the `DataFrame` interface. */
object CacheBridge {

  private def builder(df: DataFrame): Option[CachedRDDBuilder] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
  }

  /** The column-buffer RDD behind `df`'s cache entry, if `df` is cached.
    * One entry has one such RDD for its whole life: unpersisting the
    * entry unpersists it (its storage level becomes NONE), and a
    * re-persist builds a new one. Creating it runs no job. */
  def cachedBuffers(df: DataFrame): Option[RDD[_]] =
    builder(df).map(_.cachedColumnBuffers)

  /** `df`'s row count when `df` is cached and every partition of its
    * cache has been built once (the count Spark's own statistics report
    * for a loaded cache); None otherwise. Runs no job. */
  def loadedRowCount(df: DataFrame): Option[Long] =
    builder(df).filter(_.isCachedColumnBuffersLoaded).map(_.rowCountStats.value.longValue)
}
