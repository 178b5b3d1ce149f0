package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{AsOfJoin, Exact}
import graft.queries.Q

/** Temporal join operators over the event stream — the as-of
  * (point-in-time) lookup a feature/training pipeline uses to attach
  * "state as of event time" without leaking the future.
  */
object Temporal {

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // ------------------------------------------------------- as-of join
  // Every event looks up the user's most recent purchase at or before
  // the event's own timestamp (classic feature: "seconds since last
  // purchase"). Right side is pre-aggregated to one row per
  // (user_id, ts) — the determinism contract of AsOfJoin.asOf — and the
  // oracle is DuckDB's native ASOF LEFT JOIN over the same snapshot.
  val qAsOfJoin: Q = Q(
    "q43_asof_join",
    // NULL-time rows route AROUND the ASOF on both sides: SQL
    // comparison semantics (NULL >= rt, lt >= NULL → no match) are
    // what the engine's AsOfJoin implements, but DuckDB's ASOF
    // operator resolves NULL probe times engine-specifically — so the
    // oracle unions NULL-ts left rows back with NULL payload and drops
    // NULL-ts purchases, matching the engine's documented exclusions.
    """WITH purchases AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS last_purchase_ts,
      |    max(value) AS last_purchase_value
      |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |    e.event_type, p.last_purchase_ts, p.last_purchase_value
      |  FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
      |  ASOF LEFT JOIN purchases p
      |    ON e.user_id = p.user_id
      |      AND CAST(e.ts AS TIMESTAMP) >= p.last_purchase_ts
      |  UNION ALL
      |  SELECT event_id, user_id, CAST(NULL AS TIMESTAMP) AS ts,
      |    event_type, CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
      |  FROM events WHERE ts IS NULL)
      |SELECT event_id, user_id, ts, event_type, last_purchase_ts,
      |  CAST((epoch_us(ts) - epoch_us(last_purchase_ts)) // 1000000
      |    AS BIGINT) AS secs_since_purchase,
      |  last_purchase_value
      |FROM j ORDER BY event_id""".stripMargin) { (s, d) =>
    val ev = T(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("last_purchase_ts"))
      .agg(max("value").as("last_purchase_value"))
    AsOfJoin.asOf(
      ev.select("event_id", "user_id", "ts", "event_type"),
      purchases, key = "user_id", leftTime = "ts",
      rightTime = "last_purchase_ts",
      payload = Seq("last_purchase_ts", "last_purchase_value"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("last_purchase_ts"),
        // exact micros diff floor-divided to seconds — a ts→long cast
        // would floor each side separately and disagree with the oracle
        // on sub-second components
        Exact.floorDiv(
          unix_micros(col("ts")) - unix_micros(col("last_purchase_ts")),
          lit(1000000L)).as("secs_since_purchase"),
        col("last_purchase_value"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------ range join
  /** Binned range join: match left rows to right rows with
    * `rt ∈ [lt − window, lt)` on an equality key, WITHOUT the naive
    * per-key cross product. Both sides are bucketed into window-sized
    * time bins; a left row can only match right rows in its own bin or
    * the previous one, so the join is an EQUI-join on (key, bin) — 2
    * candidate bins per left row — followed by the exact range filter.
    * Candidate volume is bounded by per-(key, bin) density rather than
    * per-key totals: the standard plan for interval joins at scale
    * (a theta-join would degenerate quadratically inside hot keys).
    */
  def rangeJoinCandidates(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, windowMicros: Long)
      : DataFrame = {
    val lb = Exact.floorDiv(unix_micros(col(leftTime)), lit(windowMicros))
    val rb = Exact.floorDiv(unix_micros(col(rightTime)), lit(windowMicros))
    val probes = left
      .withColumn("__bin", explode(array(lb, lb - 1)))
    val build = right.withColumn("__bin", rb)
    probes.join(build, Seq(key, "__bin"))
      .filter(unix_micros(col(rightTime)) >=
        unix_micros(col(leftTime)) - windowMicros &&
        unix_micros(col(rightTime)) < unix_micros(col(leftTime)))
      .drop("__bin")
  }

  // Attribution: for each purchase, how many views/clicks the same
  // user made in the trailing 24 h. Purchases with no matches survive
  // via the left join back onto the aggregated candidates.
  val AttributionWindowMicros: Long = 24L * 3600 * 1000000

  val qRangeJoin: Q = Q(
    "q59_range_join_attribution",
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ets, event_type
      |  FROM events WHERE event_type IN ('view', 'click'))
      |SELECT p.event_id, p.user_id, p.pts,
      |  CAST(count(CASE WHEN e.event_type = 'view' THEN 1 END) AS BIGINT)
      |    AS n_views_24h,
      |  CAST(count(CASE WHEN e.event_type = 'click' THEN 1 END) AS BIGINT)
      |    AS n_clicks_24h
      |FROM p LEFT JOIN e
      |  ON p.user_id = e.user_id
      |  AND e.ets >= p.pts - INTERVAL 24 HOUR AND e.ets < p.pts
      |GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin) { (s, d) =>
    val ev = T(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))
    val signals = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("ets"), col("event_type"))
    val matched = rangeJoinCandidates(purchases, signals, "user_id",
      "pts", "ets", AttributionWindowMicros)
      .groupBy("event_id")
      .agg(count(when(col("event_type") === "view", 1)).as("n_views_24h"),
        count(when(col("event_type") === "click", 1)).as("n_clicks_24h"))
    purchases.join(matched, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("pts"),
        coalesce(col("n_views_24h"), lit(0L)).as("n_views_24h"),
        coalesce(col("n_clicks_24h"), lit(0L)).as("n_clicks_24h"))
      .orderBy("event_id")
  }

  // --------------------------------------------- point-in-time join
  /** Resolve each fact to the version whose `[v_from, v_to)` interval
    * contains the fact's `factTime` (NULL payload when no interval
    * does). `versions` must carry `v_from`/`v_to`; `payload` lists the
    * version columns to attach; `tieBreak` orders same-instant
    * versions (first wins — pass the ordering whose winner owns the
    * non-zero interval, e.g. version id DESC under lead() intervals).
    * One window pass for the tie dedup + the [[AsOfJoin.asOf]]
    * union-and-fill + a scan-local containment check — linear per key
    * at any scale. */
  def pitResolve(facts: DataFrame, versions: DataFrame, key: String,
      factTime: String, tieBreak: Seq[Column],
      payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTie = Window.partitionBy(key, "v_from").orderBy(tieBreak: _*)
    val uniq = versions.withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") === 1).drop("__rn")
    val j = AsOfJoin.asOf(facts, uniq, key, factTime,
      rightTime = "v_from", payload = payload ++ Seq("v_from", "v_to"))
    // the as-of match is the latest version at or before t; it
    // resolves only while its interval is still open at t
    val contained = col("v_from").isNotNull &&
      (col("v_to").isNull || col(factTime) < col("v_to"))
    j.select(facts.columns.map(col) ++
      payload.map(p => when(contained, col(p)).as(p)) :+
      when(contained, col("v_from")).as("valid_from"): _*)
  }

  /** PIT (point-in-time) dimension resolution — the companion of the
    * SCD2 history builder ([[graft.ops.Scd2]], q72) and the as-of join
    * (q43): every fact row is joined to the dimension VERSION whose
    * validity interval contains the fact's timestamp, the lookup a
    * reproducible feature store / training-data audit needs ("which
    * dim version did this example see?"). Semantics = interval
    * containment `valid_from <= t < valid_to`, which an as-of lookup
    * alone does NOT give: a version whose interval was closed by a
    * DELETE before the probe time must resolve to NO version, not to
    * the stale latest-at-or-before row.
    *
    * Plan: the SCD2 intervals come from one per-key window pass; the
    * containment probe is the union-and-fill [[AsOfJoin.asOf]] (one
    * shuffle on the key, linear per key — no interval explosion)
    * followed by a scan-local `v_to` check that nulls out probes whose
    * matched interval had already closed. Versions are deduped to one
    * per (key, valid_from) — max version id wins, exactly the row the
    * oracle's zero-length-interval semantics would keep — so the
    * as-of contract (unique right times per key) holds by
    * construction. */
  val qPitJoin: Q = Q(
    "q101_pit_join",
    """WITH feed AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN event_type = 'error' THEN 'DELETE'
      |         WHEN event_type = 'signup' THEN 'INSERT'
      |         ELSE 'UPDATE' END AS cdc_op
      |  FROM events
      |  WHERE event_type IN ('signup', 'click', 'error')
      |    AND ts IS NOT NULL),
      |h AS (
      |  SELECT user_id, event_id, event_type, cdc_op, ts AS v_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS v_to
      |  FROM feed),
      |v AS (SELECT user_id, event_id AS version_id,
      |        event_type AS version_type, v_from, v_to
      |      FROM h WHERE cdc_op <> 'DELETE'),
      |f AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events
      |      WHERE event_type IN ('purchase', 'view') AND ts IS NOT NULL)
      |SELECT f.user_id, f.event_id, f.ts,
      |  v.version_id, v.version_type, v.v_from AS valid_from
      |FROM f LEFT JOIN v ON f.user_id = v.user_id
      |  AND v.v_from <= f.ts AND (v.v_to IS NULL OR f.ts < v.v_to)
      |ORDER BY f.event_id""".stripMargin) { (s, d) =>
    val ev = T(s, d, "events")
    // dimension change feed: signup=INSERT, click=UPDATE, error=DELETE
    // (disjoint from the fact types below, so the demo is a real
    // dim-vs-fact split over the shared table)
    val feed = ev
      .filter(col("event_type").isin("signup", "click", "error") &&
        col("ts").isNotNull)
      .withColumn("cdc_op",
        when(col("event_type") === "error", "DELETE")
          .when(col("event_type") === "signup", "INSERT")
          .otherwise("UPDATE"))
    val versions = graft.ops.Scd2
      .snapshot(feed, "user_id", col("ts"), Seq(col("ts"), col("event_id")))
      .filter(col("cdc_op") =!= "DELETE")
      .select(col("user_id"), col("event_id").as("version_id"),
        col("event_type").as("version_type"),
        col("valid_from").as("v_from"), col("valid_to").as("v_to"))
    val facts = ev
      .filter(col("event_type").isin("purchase", "view") &&
        col("ts").isNotNull)
      .select("user_id", "event_id", "ts")
    // same-instant ties keep the max version id — the only row the
    // oracle's zero-length lead() intervals can ever match. Output
    // ordered by the UNIQUE event id alone: a NULL-keyed fact (valid —
    // it resolves no version) would land at opposite ends of a
    // user_id ordering on the two engines (Spark NULLS FIRST, DuckDB
    // NULLS LAST).
    pitResolve(facts, versions, key = "user_id", factTime = "ts",
      tieBreak = Seq(col("version_id").desc),
      payload = Seq("version_id", "version_type"))
      .orderBy("event_id")
  }

  val all: Seq[Q] = Seq(qAsOfJoin, qRangeJoin, qPitJoin)
}
