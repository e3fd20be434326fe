package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a span may only be closed
  * once every event of the work inside it has been delivered. The
  * drain call is Spark-internal, hence this one-line bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
