package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Lives under org.apache.spark only to reach the listener bus's
  * `private[spark]` drain, so per-operation listener deltas are complete.
  */
object Bus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
