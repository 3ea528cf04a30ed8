package org.apache.spark

/** The test suite's one reach into Spark internals: block until the
  * listener bus has delivered every posted event, so a listener counts
  * all of a block's jobs before it is removed. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
