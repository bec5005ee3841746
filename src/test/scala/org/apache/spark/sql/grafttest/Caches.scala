package org.apache.spark.sql.grafttest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Same-package access to the session CacheManager, so a test can check
  * that an operator leaves no cached relation behind. */
object Caches {
  def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries

  /** Whether the CacheManager holds a cached plan with `df`'s result. */
  def holds(spark: SparkSession, df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], df.queryExecution.analyzed).isDefined
}
