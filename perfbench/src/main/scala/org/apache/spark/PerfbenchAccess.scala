package org.apache.spark

/** The Spark-internal calls the benchmark needs. */
object PerfbenchAccess {
  /** Block until the listener bus has delivered every event posted so
    * far, so job and stage records are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Classes compiled from generated code (whole-stage codegen,
    * projections, predicates) since the JVM started; each one is a
    * miss of Spark's generated-code cache. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
