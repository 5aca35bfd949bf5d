package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Reaches the listener bus, which Spark keeps package-private. */
object BenchBridge {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
