package org.apache.spark

/** The listener bus is package-private: tests that count listener events
  * wait here until every posted event has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
