package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source registry: resolves logical table names to parquet scans.
  *
  * Mirrors the reference's `source('bronze', T)` resolution
  * (reference `models/sources/bronze/bronze.yml:8,29,43,65`;
  * `orders_cleaned.sql:52`) — a name → location mapping behind which
  * Catalyst sees a plain columnar file scan, so predicate pushdown /
  * column pruning apply unchanged. At cluster scale the same registry
  * would point at object-store URIs or catalog tables; locally it is
  * `<sfDir>/<name>.parquet`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view so the engine's full
    * surface is reachable from `spark.sql(...)` too (with
    * [[graft.GraftExtensions]] supplying the custom functions). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Resolved-plan cache, keyed per live session + directory + table.
    * A DataFrame is an immutable plan: reusing it skips the file
    * listing and parquet footer schema inference every query otherwise
    * repays (~10–50 ms per table per query — real seconds across a
    * 90-query bench sweep). Safe because the registry's inputs are
    * immutable source directories (the driver's testdata; amplified
    * copies are written once, then read); a session restart gets a
    * fresh identity key, so no plans leak across sessions. */
  private final case class CachedPlan(session: SparkSession,
      df: DataFrame)
  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String), CachedPlan]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // opportunistic purge: entries of STOPPED sessions can never be
    // reused (identity key) but would pin the session and grow the
    // map for the JVM lifetime; the map is small (live sessions ×
    // tables), so the scan is cheap
    planCache.forEach((k, v) =>
      if (v.session.sparkContext.isStopped) { planCache.remove(k); () })
    val cached = planCache.computeIfAbsent(
      (System.identityHashCode(spark), sfDir, name),
      _ => CachedPlan(spark, loadUncached(spark, sfDir, name)))
    // identityHashCode is not unique: if two LIVE sessions collide
    // on the key, never serve one a plan bound to the other (wrong
    // session confs, or a failure when that session stops) — the
    // collider just pays the uncached load
    if (cached.session eq spark) cached.df
    else loadUncached(spark, sfDir, name)
  }

  private def loadUncached(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    if (name == "events") {
      // The shipped events.ts is parquet TIMESTAMP(NANOS), which
      // Spark's vectorized reader rejects (PARQUET_TYPE_ILLEGAL). Read
      // nanos as long and truncate to micros — the same truncation
      // DuckDB applies on CAST(ts AS TIMESTAMP), so oracles line up.
      // Gate the conversion on the ACTUAL column type, not the table
      // name: a re-written events table (e.g. a ScaleUp-amplified dir)
      // already carries proper µs timestamps and must load as-is.
      // The conf is session-wide, so scope the flip: set it, inspect
      // the actual schema, and RESTORE it when this file doesn't carry
      // nanos — otherwise every later parquet read in the session
      // would silently surface unrelated TIMESTAMP(NANOS) columns as
      // LongType instead of failing loudly. When the file IS nanos,
      // the conf must stay set for the lifetime of the returned plan
      // (scan tasks re-read footers under the session conf) — the
      // narrow, genuinely required case.
      val confKey = "spark.sql.legacy.parquet.nanosAsLong"
      val prior = spark.conf.getOption(confKey)
      def restore(): Unit = prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
      spark.conf.set(confKey, "true")
      // restore on ANY exit except the nanos branch (which needs the
      // conf for the lifetime of the returned plan): a missing or
      // corrupt file must not leak the legacy flag session-wide
      try {
        val df = spark.read.parquet(s"$sfDir/$name.parquet")
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
          case org.apache.spark.sql.types.TimestampNTZType =>
            // Parquet timestamp[us] with isAdjustedToUTC=false surfaces
            // as TIMESTAMP_NTZ. The engine's temporal operators
            // (unix_micros, Row.getTimestamp consumers) are LTZ-typed,
            // and the session timezone is pinned UTC (SparkTuning), so
            // casting NTZ→LTZ here is a pure reinterpretation — the
            // same instants, every downstream bucket/oracle unchanged.
            restore()
            df.withColumn("ts",
              col("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ =>
            restore()
            df
        }
      } catch { case t: Throwable => restore(); throw t }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }
}
