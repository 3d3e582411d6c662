package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: a spec
  * that counts listener events waits for every queued one first. */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
