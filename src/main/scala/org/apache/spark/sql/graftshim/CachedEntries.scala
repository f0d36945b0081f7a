package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, classic}

/** The number of Datasets in a session's cache, which Spark keeps
  * private: what a call left pinned (tests, `tools.OptProbe jobs`).
  */
object CachedEntries {
  def apply(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
