package org.apache.spark

/**
 * Bridge to `private[spark]` SparkContext internals — the same pattern as
 * `org.apache.spark.sql.GraftSqlBridge`, for the specs that read
 * listener counters.
 */
object GraftSparkBridge {
  /** Blocks until the asynchronous listener bus has delivered every event
    * posted so far: counters read right after an action can otherwise miss
    * its trailing stage events, which then land after the next reset. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
