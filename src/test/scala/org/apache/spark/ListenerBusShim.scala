package org.apache.spark

/** The listener bus is Spark-private; specs that assert on listener events
  * (jobs started, executed plans) drain it first, so every event of the
  * action under test has been delivered. Throws a `TimeoutException` past
  * the deadline. */
object ListenerBusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
