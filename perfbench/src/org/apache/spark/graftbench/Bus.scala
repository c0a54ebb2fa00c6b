package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark; the benchmark needs it
  * to read a span's counters only after every event of the span has
  * been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
