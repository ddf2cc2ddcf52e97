package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it after each operation so every job, stage, task
  * and query-execution event of that operation is attributed before the
  * next operation starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
