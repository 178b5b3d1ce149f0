package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftListenerBridge
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.Registry

/** Plan-inspection utility: dump `explain("formatted")` for the named
  * queries (or all) so pushdown / pruning / broadcast / codegen can be
  * reviewed. A side-effecting query named explicitly also prints every
  * plan executed while building it, in order — its ingest's joins,
  * probes and writes, which the final read-back plan never shows.
  * Usage: runMain graft.tools.Explain <sfDir> [q1,q2,…] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names: Set[String] =
      if (args.length > 1) graft.Harness.names(args(1)).toSet
      else Set.empty
    val spark = graft.SparkTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a misspelled name silently matching nothing would print no plans
    // and exit 0 — the reviewer would conclude "no issues" from a typo
    val unknown = names -- Registry.all.map(_.name).toSet
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val executed =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit = executed.add(f -> qe): Unit
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = executed.add(f -> qe): Unit
    })
    Registry.all
      // side-effecting composites (building them RUNS work): dump their
      // plan only when explicitly asked for by name
      .filter(q => if (names.isEmpty) !q.sideEffecting else names(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        GraftListenerBridge.flush(spark)
        executed.clear()
        val df = q.build(spark, sfDir)
        GraftListenerBridge.flush(spark)
        if (q.sideEffecting) {
          executed.asScala.zipWithIndex.foreach { case ((f, qe), i) =>
            println(s"\n---------- executed while building, #${i + 1} " +
              s"($f) ----------\n${qe.explainString(FormattedMode)}")
          }
          println("\n---------- result ----------")
        }
        df.explain("formatted")
      }
    spark.stop()
  }
}
