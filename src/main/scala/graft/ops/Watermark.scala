package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** High-watermark incremental gate (reference
  * `models/silver/orders_cleaned.sql:53–59`,
  * `customers_latest.sql:41–49`): `_cdc_timestamp >
  * (SELECT COALESCE(MAX(last_updated_at), '<default>') FROM target)`.
  *
  * The scalar is deliberately collected to the driver and re-injected as
  * a literal: Catalyst then pushes the comparison into the parquet scan
  * (min/max row-group skipping), which is exactly the physical behavior
  * the reference relies on for incremental efficiency. This is the one
  * sanctioned driver-side collect in the engine (a single scalar).
  */
object Watermark {

  /** dbt default for `var('ingest_batch_date')`, `dbt_project.yml:28`. */
  val DefaultWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  /** MAX(tsCol) over `df` minus `shiftDays`, or the default watermark when
    * the table is empty. */
  def highWatermark(df: DataFrame, tsCol: String, shiftDays: Int = 0)
      : Timestamp = {
    // String round-trip, as in newerThan below: `getTimestamp(0)` would
    // throw ClassCastException for a TIMESTAMP_NTZ column (which
    // surfaces as LocalDateTime) — the cast makes the scalar flavor-
    // agnostic. The string is rendered in the SESSION timezone (UTC,
    // pinned by SparkTuning), so it must be re-parsed as UTC too:
    // Timestamp.valueOf would interpret it in the JVM-default zone and
    // shift the watermark by the host's UTC offset.
    val row = df.agg(max(col(tsCol)).cast("string")).head()
    if (row.isNullAt(0)) DefaultWatermark
    else {
      // a DATE-typed watermark column renders without a time part
      // ("1998-08-02"), which LocalDateTime.parse rejects — treat it
      // as midnight, matching Spark's own date→timestamp cast
      val s = row.getString(0)
      val wall =
        if (s.indexOf(' ') < 0 && s.indexOf('T') < 0)
          java.time.LocalDate.parse(s).atStartOfDay()
        else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      val ts = Timestamp.from(wall.toInstant(java.time.ZoneOffset.UTC))
      if (shiftDays == 0) ts
      else Timestamp.from(ts.toInstant.minusSeconds(shiftDays * 86400L))
    }
  }

  /** Incremental gate: rows of `incoming` strictly newer than the target's
    * watermark. Late rows (≤ watermark) are silently dropped — replicates
    * the reference's semantics exactly (SURVEY.md §2.9).
    *
    * Timestamp-flavor-agnostic (TIMESTAMP vs TIMESTAMP_NTZ parquet
    * columns surface as java.sql.Timestamp vs LocalDateTime): the
    * scalar travels as a string and is cast back to the SOURCE column's
    * own type — the cast of a literal constant-folds, so the comparison
    * still pushes into the parquet scan. */
  def newerThan(incoming: DataFrame, target: Option[DataFrame],
      incomingTs: String, targetTs: String,
      defaultWm: String = "1900-01-01 00:00:00"): DataFrame =
    target match {
      case None => incoming // bootstrap: full scan
      case Some(t) =>
        val row = t.agg(max(col(targetTs)).cast("string")).head()
        val wm = if (row.isNullAt(0)) defaultWm else row.getString(0)
        incoming.filter(col(incomingTs) >
          lit(wm).cast(incoming.schema(incomingTs).dataType))
    }

  /** [[newerThan]] with an O(1) high-water mark: when the target's
    * commit-time footer stats carry the watermark column's MAX
    * ([[graft.io.ModelStore.statMax]] via `BuildCtx.statMax`), the
    * gate uses it directly — no scan of the target table at all. At
    * 100 TB the `SELECT MAX(last_updated_at) FROM {{ this }}` subquery
    * the reference runs per incremental model reads a terabyte-scale
    * column; the stats lookup reads one meta file. Absent stats
    * (never recorded, tombstoned after a stats-less rewrite, empty
    * table) fall back to the exact scan — the stat is exact when
    * present, so the two paths are equivalent by construction
    * (WatermarkStatsSpec pins it). */
  def newerThanStat(incoming: DataFrame, target: Option[DataFrame],
      statMax: String => Option[String],
      incomingTs: String, targetTs: String,
      defaultWm: String = "1900-01-01 00:00:00"): DataFrame =
    target match {
      case None => incoming // bootstrap: full scan
      case Some(_) =>
        statMax(targetTs) match {
          case Some(wm) => incoming.filter(col(incomingTs) >
            lit(wm).cast(incoming.schema(incomingTs).dataType))
          case None =>
            newerThan(incoming, target, incomingTs, targetTs, defaultWm)
        }
    }
}
