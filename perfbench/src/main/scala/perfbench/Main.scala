package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one closed-loop client, one
  * JSON result line as the last line of stdout.
  *
  * Usage (normally through `run.py`): perfbench.Main --workload <name>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *   --cores <n>
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "medallion" -> Medallion, "doc_ingest" -> DocIngest)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val wl = workloads.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    // the session the engine's own Bench uses, with every scratch
    // directory inside the run's work dir
    val spark = graft.SparkTuning(SparkSession.builder())
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, o, new Trace(spark, o.traced))
    val completed =
      try { wl.run(run); true }
      catch { case scala.util.control.NonFatal(e) =>
        run.log(s"workload aborted: $e"); e.printStackTrace(); false }
    run.finish()
    run.trace.drain()
    val ok = completed && run.correct && run.ops.nonEmpty
    val metrics =
      if (o.traced) Layers.metrics(run, s"${o.work}/trace")
      else Report.endToEnd(run)
    val failed = run.ops.count(!_.ok)
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Report.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $ok, "attempted": ${run.ops.length max 1}, """ +
      s""""failed": ${if (completed) failed else (run.ops.length max 1)}, """ +
      s""""metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}
