package org.apache.spark

/** The listener bus is private to Spark; the traced run waits for it to
  * deliver every event of a finished query before reading the counters.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
