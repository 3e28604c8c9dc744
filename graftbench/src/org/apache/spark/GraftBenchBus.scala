package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark waits on it
  * before reading its own listener's job records. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
