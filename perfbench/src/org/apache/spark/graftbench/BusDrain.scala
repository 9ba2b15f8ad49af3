package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered,
  * so the benchmark's recorders have seen the last event of a traced
  * operation before they are detached. The listener bus is
  * package-private to Spark, hence this one-line bridge in Spark's
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
