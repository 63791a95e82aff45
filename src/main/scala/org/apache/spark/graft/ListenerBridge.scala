package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Bridge to the context's listener bus (`SparkContext.listenerBus` is
  * private[spark]) — for listeners that must count every event posted
  * so far, without sleeping. */
object ListenerBridge {
  /** Adds `l` to the context's bus unless it is there already. */
  def addOnce(sc: SparkContext, l: SparkListenerInterface): Unit =
    synchronized {
      if (!sc.listenerBus.listeners.contains(l)) sc.addSparkListener(l)
    }

  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
