package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The listener bus's drain is package-private: the benchmark waits on it
  * so every job, stage and task event of a traced phase is counted before
  * the phase's numbers are read. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
