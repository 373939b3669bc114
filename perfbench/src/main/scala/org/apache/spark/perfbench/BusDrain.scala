package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener queue has delivered its pending events, so
  * the recorders have seen all of an op's jobs, queries and progress
  * reports before the op's layer record is cut. The bus is `private[spark]`,
  * hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
