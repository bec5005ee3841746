package org.apache.spark.sql.grafttest

import org.apache.spark.sql.SparkSession

/** Same-package access to the session CacheManager, so a test can check
  * that an operator leaves no cached relation behind. */
object Caches {
  def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
