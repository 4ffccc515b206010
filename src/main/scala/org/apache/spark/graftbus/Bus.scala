package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** The listener bus's drain call is package-private to Spark; this shim
  * lives under `org.apache.spark` only to reach it, so `graft.Probe`
  * and the specs can read their listeners' counts once every event
  * posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
