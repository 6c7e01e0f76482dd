package org.apache.spark

/** Test access to the `private[spark]` listener bus. Listener events are
  * delivered asynchronously; [[drain]] returns once every posted event has
  * reached its listeners, so a status-tracker read after an action sees all
  * of that action's jobs. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
