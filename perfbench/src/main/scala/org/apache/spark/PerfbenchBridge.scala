package org.apache.spark

/** Access to the `private[spark]` listener bus: listener events arrive
  * asynchronously, so the benchmark drains the bus before it reads any
  * job, stage or task count. Draining waits on the bus itself, never on
  * a sleep.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(120000L)
}
