package org.apache.spark

/** Access to the `private[spark]` listener bus. Listener events are
  * delivered asynchronously; draining the bus before reading or
  * resetting a listener's counter makes the count cover exactly the
  * work in between, with no late events from earlier actions. Throws
  * `TimeoutException` if the bus is not empty within 10 s. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
