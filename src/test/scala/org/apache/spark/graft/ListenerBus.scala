package org.apache.spark.graft

/** Test access to the `private[spark]` listener bus. */
object ListenerBus {
  /** Blocks until every event posted so far reached every listener. */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
