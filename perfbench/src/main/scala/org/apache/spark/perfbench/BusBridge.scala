package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus (`listenerBus` is private[spark]), so
  * that every event posted before the call has been delivered to every
  * listener when it returns. Accounting never waits by sleeping. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
