package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
