package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** `SparkContext.listenerBus` is `private[spark]`: posts an event of graft's
  * own behind every event already posted. */
object ListenerBridge {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}

/** An event for one graft listener, named by `id`; event logs skip it. */
final class MarkerEvent(val id: String) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}
