package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The Spark internals the harness reads, in one place: a listener-bus
  * drain, so counters read at a phase boundary hold every event of that
  * phase, and the whole-stage-codegen compile-time histogram. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compilations so far, mean compile ms of the recent reservoir). */
  def codegenCompiles: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
