package org.apache.spark.sql

/** Test-side access to `private[sql]` Spark state. */
object GraftTestShims {
  /** Number of entries in the shared cache manager. */
  def numCachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
