package org.apache.spark

/** Reaches the listener bus, which is package-private: the benchmark
  * drains it before reading its listeners' counters.
  */
object LaneBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
