package org.apache.spark

/** The listener bus is Spark-private; the tracer waits on it so every job
  * and task event of a phase is counted before the phase is summarised. */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
