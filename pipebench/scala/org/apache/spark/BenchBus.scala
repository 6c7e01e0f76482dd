package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener counts read after an action include all of its jobs. Lives in
  * this package because `listenerBus` is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
