package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the live listener bus: listeners run on their own
  * thread, so a spec that counts events drains the bus before reading
  * its counters. */
object ListenerShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
