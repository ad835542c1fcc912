package org.apache.spark

/** Test access to `LiveListenerBus.waitUntilEmpty`, which is
  * package-private: after it returns, every event posted so far has
  * reached every listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
