package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads its listener counters only after every event
  * posted so far has been delivered. */
object PerfbenchAccess {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
