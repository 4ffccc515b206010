package org.apache.spark.e2ebenchbus

import org.apache.spark.SparkContext

/** The listener bus's drain call is package-private to Spark; this shim
  * lives under `org.apache.spark` only to reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
