package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * job and task events arrive asynchronously, and the traced run reads its
  * counters only after every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
