package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test-only bridge to the `private[sql]` CacheManager so suites can
  * assert an operator released every internal `cache()` before returning
  * (a leaked entry is pinned by the CacheManager for the whole session).
  * Lives in test sources — the library itself reaches into no internals
  * beyond [[ColumnShim]]'s Column↔Expression converters.
  */
object CacheProbe {
  def cacheManagerEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
