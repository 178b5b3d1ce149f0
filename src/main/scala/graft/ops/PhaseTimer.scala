package graft.ops

import org.apache.spark.sql.SparkSession

/** THE phase-timing helper: stderr stopwatch (stdout stays
  * Bench-clean) plus Spark job-description labeling so profilers and
  * the UI attribute each phase's jobs. One definition — the pipeline
  * materializer and the near-dup index ingest both route through it,
  * so the "same convention" cannot drift (it already had: one copy
  * gained job labeling while the other didn't). */
object PhaseTimer {

  def timed[T](spark: SparkSession, logLine: String, jobDesc: String)(
      body: => T): T = {
    val t0 = System.nanoTime()
    // thread-local: concurrent phases (model pool threads) label
    // independently. RESTORE the prior description rather than
    // clearing — a nested timed must not strip its enclosing phase's
    // label from the jobs that follow it.
    val prev = spark.sparkContext
      .getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(jobDesc)
    val r = try body
      finally spark.sparkContext.setJobDescription(prev)
    System.err.println(
      f"$logLine ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** [[timed]] for a model table's write phase; perfbench's `model.*`
    * layers key on the `pipeline <layer>.<name> <phase>` job label. */
  def table[T](spark: SparkSession, layer: String, name: String,
      phase: String)(body: => T): T =
    timed(spark, s"[pipeline-io] $layer.$name $phase",
      s"pipeline $layer.$name $phase")(body)
}
