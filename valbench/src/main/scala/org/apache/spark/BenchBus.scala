package org.apache.spark

/** The pieces of Spark internals the benchmark uses. */
object BenchBus {
  /** The listener bus delivers events on its own thread, so counters read
    * right after an action can miss that action's last task and stage
    * events. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Generated classes compiled so far in this JVM (code-cache misses). */
  def codegens: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
