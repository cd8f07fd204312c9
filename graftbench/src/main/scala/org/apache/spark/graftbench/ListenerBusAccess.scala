package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The traced run attributes listener events to the operation that was
 * current when they were posted, so it drains the (asynchronous)
 * listener bus before switching operations. The bus is Spark-private;
 * this accessor lives in Spark's package for that reason only. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
