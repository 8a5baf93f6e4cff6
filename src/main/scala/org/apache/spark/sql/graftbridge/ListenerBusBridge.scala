package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to `SparkContext.listenerBus` (private[spark]). Visibility shim
  * only. */
object ListenerBusBridge {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
