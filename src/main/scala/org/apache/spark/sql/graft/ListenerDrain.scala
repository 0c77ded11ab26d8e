package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every event posted so
  * far, so counts a listener read after it are complete; throws a
  * `TimeoutException` after 30 s rather than return a short count. The
  * bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
