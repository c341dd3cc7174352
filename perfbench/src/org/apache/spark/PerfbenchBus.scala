package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a traced pass's job, stage and task events are recorded before the
  * tracer is detached. Lives in this package because the bus is
  * `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Count of whole-stage-codegen compilations so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
