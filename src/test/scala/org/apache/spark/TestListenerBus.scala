package org.apache.spark

/** The specs' handle on Spark's listener bus, which Spark keeps
  * package-private. Listener events arrive asynchronously; a spec that
  * counts jobs or progress events drains the bus before it reads them. */
object TestListenerBus {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
