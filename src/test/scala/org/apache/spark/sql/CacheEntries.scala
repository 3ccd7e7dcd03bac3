package org.apache.spark.sql

/** The number of entries in a session's cache manager, which only the
  * `sql` package can read: specs use it to check that a code path leaves
  * no cached table behind. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
