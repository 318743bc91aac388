package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Reads the two Spark-internal values the benchmark's tracer needs. */
object PerfbenchBridge {

  /** Block until every queued listener event has been delivered, so counters
    * read at a span boundary include the work done inside the span.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of whole-stage / expression codegen compilations so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
