package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so counters read at a pass boundary belong to that
  * pass. The listener bus is private to Spark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
