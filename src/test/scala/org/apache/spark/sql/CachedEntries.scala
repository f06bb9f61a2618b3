package org.apache.spark.sql

/** Test hook: the number of plans the session's CacheManager holds
  * (`numCachedEntries` is package-private to Spark SQL).
  */
object CachedEntries {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
