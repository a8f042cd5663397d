package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The harness drains the
  * bus before it reads a query's counters, so every job, stage and task of
  * that query has been counted. The bus is `private[spark]`, hence this
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
