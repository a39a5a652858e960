package org.apache.spark

/** The listener bus is private[spark]; specs that count jobs drain it so
  * every job-start event has reached their listener before they read it.
  */
object GraftTestShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
