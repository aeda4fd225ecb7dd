package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to the `org.apache.spark`
  * package: the tracer must see every event of a round before it reads its
  * records, and listener delivery is asynchronous.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
