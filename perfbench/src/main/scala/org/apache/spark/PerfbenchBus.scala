package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one listener-bus hook the tracer needs that Spark keeps
  * package-private: wait until every posted event has been delivered. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
