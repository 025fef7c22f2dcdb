package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the traced run drains it
  * after every operation so that operation's job, stage and task events
  * (and its query-execution callbacks) have all been delivered before the
  * next operation starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
