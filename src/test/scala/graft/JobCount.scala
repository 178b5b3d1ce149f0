package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftListenerBridge, SparkSession}

/** The number of Spark jobs `body` starts. The listener bus is flushed
  * before and after, so jobs of earlier work are not counted and jobs
  * of `body` are not missed. */
object JobCount {
  def apply(spark: SparkSession)(body: => Any): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    GraftListenerBridge.flush(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftListenerBridge.flush(spark)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
