package org.apache.spark

/** The `private[spark]` listener-bus drain, for specs that count jobs or
  * tasks: after it returns, every event posted so far was delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
