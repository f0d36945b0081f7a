package org.apache.spark.sql

/** Test access to the number of Datasets in a session's cache, which is
  * private to Spark.
  */
object CachedEntries {
  def apply(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
