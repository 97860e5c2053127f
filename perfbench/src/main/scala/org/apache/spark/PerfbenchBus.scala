package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The benchmark waits on it outside timed windows so that every task and
  * progress event of a measurement has reached its listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
