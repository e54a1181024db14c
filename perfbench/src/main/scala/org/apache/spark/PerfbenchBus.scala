package org.apache.spark

/** Lives in Spark's package because the listener bus is private to it:
  * the traced run waits for every posted event before it reads spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
