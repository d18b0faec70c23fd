package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; its drain call is package-private,
  * so the benchmark reaches it from inside the `org.apache.spark`
  * namespace. Called with the clock stopped, before the trace is read. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
