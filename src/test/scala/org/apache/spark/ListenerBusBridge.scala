package org.apache.spark

/** Test-side access to the `private[spark]` listener bus. Listener
  * events are delivered asynchronously; draining the bus before reading
  * or resetting a listener's counter makes the count cover exactly the
  * work in between, with no late events from earlier actions. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
