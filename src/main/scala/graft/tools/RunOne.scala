package graft.tools

/** Run a single registry query against a testdata dir — the targeted
  * profiling/debugging loop (Bench runs everything; this runs one).
  *
  * Usage: runMain graft.tools.RunOne <queryName> <sfDir> [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val spark = graft.SparkTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = graft.queries.Registry.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    if (args.length > 2 && args(2) == "explain")
      q.build(spark, sfDir).explain("formatted")
    // time build + count together (iterative operators do eager work
    // inside build); two passes — the first pays session/codegen
    // warmup, the second is the comparable number (Bench warms up too)
    (1 to 2).foreach { pass =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = q.build(spark, sfDir).count()
      println(f"[runone] $name pass$pass rows=$n " +
        f"elapsed=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
