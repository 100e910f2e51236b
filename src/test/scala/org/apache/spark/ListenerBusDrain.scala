package org.apache.spark

/** Test access to the driver's listener bus, whose drain is package-private:
  * once it returns, every event posted before the call has reached every
  * listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
