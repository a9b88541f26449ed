package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only bridge: block until every event posted so far has reached
  * every listener, so a spec can count listener events exactly.
  */
object TestListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
