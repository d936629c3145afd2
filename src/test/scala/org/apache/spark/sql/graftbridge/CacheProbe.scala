package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the `private[sql]` size of a session's cache manager. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
