package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test-only access to the private[sql] CacheManager entry count, so
  * specs can check that an operator leaves no cached plan behind.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
