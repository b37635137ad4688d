package org.apache.spark.sql

/** The two reads [[graft.tools.Meter]] needs that Spark keeps
  * package-private: draining the asynchronous listener bus, and the
  * number of plans in the session's cache manager.
  */
object GraftMeterBridge {
  /** Blocks until every event posted so far has reached every listener. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
