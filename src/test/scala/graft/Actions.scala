package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftListenerBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark actions (SQL executions: a count, a collect, a write, a
  * checkpoint) `body` runs, in order, as (action name, execution). The
  * listener bus is flushed before and after, as in [[JobCount]]. */
object Actions {
  def apply(spark: SparkSession)(body: => Any)
      : Seq[(String, QueryExecution)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit = seen.add(f -> qe): Unit
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = seen.add(f -> qe): Unit
    }
    GraftListenerBridge.flush(spark)
    spark.listenerManager.register(listener)
    try {
      body
      GraftListenerBridge.flush(spark)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
