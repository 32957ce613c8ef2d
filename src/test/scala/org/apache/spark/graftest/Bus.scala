package org.apache.spark.graftest

import org.apache.spark.SparkContext

/** Test access to the listener bus: listener events (job starts, block
  * updates) are delivered asynchronously, so a spec that counts them
  * drains the bus first. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
