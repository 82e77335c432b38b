package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * per-operation counters are read complete instead of after a sleep. The
  * bus is `private[spark]`, hence this one-line bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
