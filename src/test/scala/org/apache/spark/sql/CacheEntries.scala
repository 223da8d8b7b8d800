package org.apache.spark.sql

/** The number of entries in the session's cache manager — what a spec
  * reads to prove an operator released every frame it persisted. The
  * count is private to Spark, hence the package. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
