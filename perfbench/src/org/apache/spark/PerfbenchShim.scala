package org.apache.spark

/** The listener bus is private[spark]; the benchmark waits on it so every
  * task, job and query event of a span is delivered before the span closes.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
