package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * metrics read from listeners are complete only once every event posted
  * so far has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
