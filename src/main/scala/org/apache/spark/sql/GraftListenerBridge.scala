package org.apache.spark.sql

/** Listener-bus flush (the [[GraftColumnBridge]] technique: the
  * call is `private[spark]`). After it returns, every listener event
  * posted before the call has been delivered. */
object GraftListenerBridge {
  def flush(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
