package org.apache.spark.abrbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * traced cycle's job, task and query events are all counted before its
  * spans are closed out.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
