package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark waits for
  * the bus to empty before it reads or detaches its listeners. The wait is
  * `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
