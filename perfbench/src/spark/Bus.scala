package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the SparkContext's listener bus, which is private to
  * `org.apache.spark`. The traced run drains it before reading what its
  * listener recorded.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
