package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus (this file lives under
  * `org.apache.spark` only for Scala access qualification): blocks until
  * every event posted so far has reached every listener, including the
  * status store behind `SparkContext.statusTracker`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
