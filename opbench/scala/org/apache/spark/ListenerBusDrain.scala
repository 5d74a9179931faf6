package org.apache.spark

/** The listener bus is private to Spark; the benchmark lives in this
  * package only to wait on it. Listener events arrive asynchronously,
  * so counts read before the bus is empty under-report jobs, stages
  * and tasks of the call that just ended. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
