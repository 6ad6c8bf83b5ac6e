package org.apache.spark

/** The benchmark's handle on Spark's listener bus, which Spark keeps
  * package-private. Listener events arrive asynchronously; draining the
  * bus at the edges of the timed phase keeps a set-up job's late events
  * out of the timed counts, and the timed phase's own events in. */
object PerfbenchListenerBus {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
