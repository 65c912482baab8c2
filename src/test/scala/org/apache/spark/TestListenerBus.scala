package org.apache.spark

/** Test access to the SparkContext's listener bus, which is private to
  * `org.apache.spark`: drain it before reading what a listener recorded.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
