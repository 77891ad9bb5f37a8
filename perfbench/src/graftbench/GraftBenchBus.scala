package org.apache.spark

/** The listener bus is package-private; the traced run waits on it so every
  * event of an op has been delivered before the op's spans are closed. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
