package org.apache.spark

/** The listener bus is asynchronous and its drain call is package-private;
  * the traced benchmark run drains it at every layer boundary so each event
  * is read while its layer call is still the current one. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
