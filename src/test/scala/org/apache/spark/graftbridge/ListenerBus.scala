package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this bridge lets a spec wait for
  * it to empty before it reads what its listener recorded. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
