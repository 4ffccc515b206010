package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** The listener bus's drain call is package-private to Spark; this test
  * shim lives under `org.apache.spark` only to reach it, so a spec can
  * read its listeners' counts once every event posted so far has been
  * delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
