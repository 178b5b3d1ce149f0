package graft.tools

import graft.queries.Registry

/** Plan-inspection utility: dump `explain("formatted")` for the named
  * queries (or all) so pushdown / pruning / broadcast / codegen can be
  * reviewed. Usage: runMain graft.tools.Explain <sfDir> [q1,q2,…] */
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
    Registry.all
      // side-effecting composites (building them RUNS work): dump their
      // plan only when explicitly asked for by name
      .filter(q => if (names.isEmpty) !q.sideEffecting else names(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        q.build(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
