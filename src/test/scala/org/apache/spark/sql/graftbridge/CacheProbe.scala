package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the `private[sql]` size of a session's cache manager, and
  * to the listener bus's drain. */
object CacheProbe {
  def drainListeners(spark: SparkSession): Unit = Bridge.drainListeners(spark)

  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
