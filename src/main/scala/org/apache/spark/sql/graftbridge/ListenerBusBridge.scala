package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/**
 * Posts a marker event onto a SparkContext's listener bus.
 * `SparkContext.listenerBus` is `private[spark]`; like [[ColumnBridge]],
 * this object sits in a `org.apache.spark` subpackage to reach it.
 * `JobRunner.run` uses the marker as an ordering barrier: the bus's
 * shared queue delivers events in post order, so a listener that sees
 * the marker has also seen every event posted before it.
 */
object ListenerBusBridge {

  /** A tagged no-op event; never written to the event log. */
  final case class Marker(tag: String) extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  def post(sc: SparkContext, marker: Marker): Unit = sc.listenerBus.post(marker)
}
