package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver calls with (sfDir, outDir); an optional third arg
    // restricts the dump to comma-separated query names (local use)
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
    val Array(sfDir, outDir) = args.take(2)
    // an all-empty list selects every query, never none
    val only: Option[Set[String]] = Option.when(args.length > 2)(
      Harness.names(args(2)).toSet).filter(_.nonEmpty)
    val spark = SparkTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var failed = List.empty[String]
    // Dump format contract: result parquet writes timestamps as INT96
    // (tz-naive on every reader), NOT the session's TIMESTAMP_MICROS
    // engine default — micros parquet is tagged adjusted-to-UTC, which
    // pandas-based comparers read as a tz-AWARE dtype and fail to
    // compare against DuckDB's naive oracle timestamps. The toggle
    // wraps ONLY the dump write: queries themselves (including their
    // internal ModelStore materializations) run under the shipped
    // stats-bearing micros config.
    def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val key = "spark.sql.parquet.outputTimestampType"
      val prior = spark.conf.get(key)
      spark.conf.set(key, "INT96")
      try df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      finally spark.conf.set(key, prior)
    }
    selected.foreach { case (name, fn) =>
      try dump(fn(spark, sfDir), name)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
        // Remove any PRIOR dump of this query: a re-run into a
        // populated out dir would otherwise leave the stale result in
        // place, and a caller ignoring this run's exit code (or
        // check.py, which only sees existing dirs) would validate old
        // data as if this run produced it.
        Harness.deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
      // queries may persist() shared intermediates — release them
      spark.catalog.clearCache()
    }
    // JSON string escape shared with Bench (Harness.jsonStr): a tab or
    // CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    def q(s: String): String = Harness.jsonStr(s)
    // ALWAYS the full oracle map, even for a subset dump: a filtered
    // map silently downgrades every other query in the out dir to a
    // weaker rows-only check on the next tools/check.py run (and a
    // 0-row oracle-checked output then flips from pass to FAIL).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Completeness manifest: every query name an UNFILTERED run is
    // responsible for. A query that throws mid-dump must not vanish
    // silently from the round artifact (round 4 shipped 91-of-94
    // green-looking entries) — check.py cross-references this list
    // against the actually-dumped dirs, and the run itself exits
    // non-zero. A subset dump must NOT overwrite it: re-running one
    // query into a full out dir would shrink the manifest to that
    // subset and re-disable the very gate this exists for (the same
    // reason oracle_sql.json above is always written full).
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/_manifest.json"),
        selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]")): Unit
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] INCOMPLETE: ${failed.size} of ${selected.size} queries " +
        s"failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
