package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one Spark-internal call the benchmark needs: listener events are
  * delivered asynchronously, so counters are read only after the bus has
  * drained (`LiveListenerBus.waitUntilEmpty` is `private[spark]`).
  */
object PerfbenchAccess {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
