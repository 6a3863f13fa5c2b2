package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the listener bus so counters read at a span boundary include
  * every event posted before it. The bus is Spark-private, hence this
  * package. */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
