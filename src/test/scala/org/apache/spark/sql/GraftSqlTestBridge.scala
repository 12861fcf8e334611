package org.apache.spark.sql

/** Test-only bridge into `private[sql]` members (see
  * org.apache.spark.GraftTestBridge for the private[spark] ones): the
  * number of plans the session's cache manager holds, for tests that
  * assert an engine call leaves nothing persisted.
  */
object GraftSqlTestBridge {
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
