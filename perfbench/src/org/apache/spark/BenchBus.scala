package org.apache.spark

/** Deterministic drain of the listener bus: returns once every event
  * posted so far has been delivered to every listener. The bus is
  * `private[spark]`, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
