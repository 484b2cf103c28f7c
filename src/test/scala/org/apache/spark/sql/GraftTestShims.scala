package org.apache.spark.sql

import org.apache.spark.sql.util.QueryExecutionListener

/** Test-side access to `private[sql]` Spark state. */
object GraftTestShims {
  /** Number of entries in the shared cache manager. */
  def numCachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** The query execution listeners registered on `spark`. */
  def listeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
