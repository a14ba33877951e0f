package org.apache.spark

/** The one `private[spark]` hook the tracer needs: listener events are
  * delivered asynchronously, so an op's jobs and queries are only all
  * accounted once the listener bus has drained. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
