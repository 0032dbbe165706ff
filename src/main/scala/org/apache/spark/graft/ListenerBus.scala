package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus access for the engine's diagnostics. Listener events arrive
  * on the bus thread after the action that caused them has returned, so a
  * counting listener is read only after [[drain]]. Lives under
  * `org.apache.spark` because `SparkContext.listenerBus` is
  * `private[spark]`. */
object ListenerBus {

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
