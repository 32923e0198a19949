package org.apache.spark

/** The traced run attributes listener events to the layer call that was
  * running when they were posted. Listener delivery is asynchronous, so
  * the harness waits for the bus to empty at each layer boundary (outside
  * the timed spans). `waitUntilEmpty` is `private[spark]`, hence this
  * shim lives in Spark's package. The untraced run never calls it.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
