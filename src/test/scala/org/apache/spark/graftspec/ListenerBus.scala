package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: a spec
  * that asserts which jobs an action started reads its listener only
  * after the bus delivered every event.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
