package org.apache.spark.sql

/** Test access to the listener bus, which Spark keeps package-private:
  * listener events arrive asynchronously, so a spec that counts them
  * drains the bus before it reads its counters. */
object GraftListenerBridge {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
