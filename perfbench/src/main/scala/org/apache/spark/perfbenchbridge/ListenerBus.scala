package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this bridge lets the benchmark
  * wait for it to empty before it reads its listener records. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
