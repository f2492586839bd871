package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the benchmark
  * drains the bus after every execution so each one's events are
  * counted against it, outside the timed region. */
object PerfBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
