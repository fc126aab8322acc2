package org.apache.spark

/** The listener bus is `private[spark]`; this is the one hook the
  * benchmark needs from it: block until every queued event (job, task,
  * SQL-execution end) has been delivered, so an operation's window can
  * be closed with all of its events counted and none left to leak into
  * the next operation. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
