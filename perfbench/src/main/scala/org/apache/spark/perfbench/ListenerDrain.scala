package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every event posted so
  * far, so a trace read after it is complete. The bus is `private[spark]`,
  * hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
