package org.apache.spark

/** The two Spark internals the benchmark reads. */
object SparkInternals {
  /** The listener bus is asynchronous; span attribution reads listener
    * state only after every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Janino compilations in this JVM and their compile-time histogram. */
  def codegenCompiles: com.codahale.metrics.Histogram =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
}
