package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark. The
  * traced run drains it after each operation so every job, task and
  * query-execution event of that operation has been delivered before the
  * operation's counters are read.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
