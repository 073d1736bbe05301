package org.apache.spark.wovedbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * span's jobs and tasks are all recorded before they are attributed.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
