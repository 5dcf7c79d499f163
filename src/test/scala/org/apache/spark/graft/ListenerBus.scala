package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs' access to the (package-private) listener bus. */
object ListenerBus {
  /** Blocks until every event posted so far has reached its listeners,
    * so a spec can count what a listener saw.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
