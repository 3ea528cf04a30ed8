package org.apache.spark

/** The benchmark's one reach into Spark internals: block until the listener
  * bus has delivered every posted event, so a traced operation's job, task
  * and planning events are all counted before the next operation starts.
  * Only the traced run calls it, and only between operations. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
