package org.apache.spark

/** Driver-side drain of the shared listener bus — `listenerBus` is
  * `private[spark]`, so callers that need an exact post-action listener
  * read ([[graft.obs.RunRecorder.measure]], the perfbench tracer, specs)
  * reach it through this shim instead of a fixed
  * `Thread.sleep`, which under a loaded host delivers events late and
  * made the segment-law end-to-end pin flaky (ADVICE r15). SQL execution
  * listeners (`ExecutionListenerBus`) ride the same bus, so one drain
  * covers both task metrics and QueryExecutionListener delivery. */
object GraftBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Classes compiled by Spark's code generator in this JVM so far (every
    * compile records one compilation-time sample; a codegen-cache hit
    * records none). */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
