package graft.ops

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gold-layer customer rollup — the engine's flagship query, re-expressing
  * the reference's `models/gold/customers/dim_customer.sql` semantics
  * (CTE `customer_order_metrics` at `:33–60`, tier/RFM/lifecycle ladders
  * at `:66–108,164–198`, enrichment left-joins at `:210–214`) over the
  * driver's `orders`/`customer`/`nation` testdata.
  *
  * Shape at scale: one shuffle for the `GROUP BY o_custkey` aggregate
  * (map-side partial aggregation applies; COUNT(DISTINCT …) is rewritten
  * by Catalyst's `RewriteDistinctAggregates` into expand + two-phase);
  * the customer/nation sides are dimensions — joined broadcast so the
  * aggregated fact never reshuffles. `current_date` is frozen as an
  * injected `anchor` (reference uses CURRENT_DATE at `dim_customer.sql:
  * 47–51` — pinned for deterministic tests).
  */
object Metrics {

  // Thresholds sized for the testdata distribution (avg order ≈ 250k,
  // ≈10 orders per customer ⇒ lifetime ≈ 2.5M). Same ladder *shape* as
  // dim_customer.sql:81–108 (tiers) and :173–198 (1–5 RFM scores).
  // Held in exact integer CENTS: every comparison below runs in integer
  // space so the ladder is engine-portable; money renders as a fixed
  // 2-decimal string only at the output layer (Exact.dec2).
  private val TierPlatC = 4000000L * 100
  private val TierGoldC = 2500000L * 100
  private val TierSilverC = 1000000L * 100

  def customerLifetimeRollup(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, anchor: Date): DataFrame = {
    val valid = orders.filter(
      col("o_custkey").isNotNull &&
      col("o_orderstatus").isin("O", "F", "P") &&
      col("o_totalprice") > 0)

    // COUNT(DISTINCT o_orderkey …) computed as COUNT(…): o_orderkey is
    // the orders table's primary key (one row per order), so the two
    // are equal — and dropping the distincts removes a 3-way Expand of
    // the scan (multiple distinct aggregates replicate every input
    // row). m_active_months stays a true distinct; a single distinct
    // aggregate plans without Expand.
    val cent = Exact.cents(col("o_totalprice"))
    val metrics = valid.groupBy("o_custkey").agg(
      count(col("o_orderkey")).as("m_orders"),
      sum(cent).as("m_cents"),
      Exact.halfUpDiv(sum(cent), count(lit(1))).as("m_avg_cents"),
      count(when(col("o_orderstatus") === "F", col("o_orderkey")))
        .as("m_completed"),
      sum(when(col("o_orderstatus") === "F", cent).otherwise(0L))
        .as("m_completed_cents"),
      countDistinct(date_trunc("month", col("o_orderdate")))
        .as("m_active_months"),
      min("o_orderdate").as("m_first_ts"),
      max("o_orderdate").as("m_last_ts"))

    val joined = customer
      .join(metrics, customer("c_custkey") === metrics("o_custkey"), "left")
      .join(broadcast(nation),
        customer("c_nationkey") === nation("n_nationkey"), "left")

    val lifetimeOrders = coalesce(col("m_orders"), lit(0L))
    val lifetimeCents = coalesce(col("m_cents"), lit(0L))
    val daysSince = datediff(lit(anchor), to_date(col("m_last_ts")))
    val recency = when(daysSince.isNull, 1)
      .when(daysSince <= 90, 5).when(daysSince <= 180, 4)
      .when(daysSince <= 365, 3).when(daysSince <= 730, 2).otherwise(1)
    val frequency = when(lifetimeOrders >= 15, 5)
      .when(lifetimeOrders >= 12, 4).when(lifetimeOrders >= 8, 3)
      .when(lifetimeOrders >= 4, 2).otherwise(1)
    val monetary = when(lifetimeCents >= TierPlatC, 5)
      .when(lifetimeCents >= TierGoldC, 4)
      .when(lifetimeCents >= 1500000L * 100, 3)
      .when(lifetimeCents >= 500000L * 100, 2).otherwise(1)

    joined.select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      col("n_name").as("nation_name"),
      lifetimeOrders.as("lifetime_orders"),
      Exact.dec2(lifetimeCents).as("lifetime_value"),
      Exact.dec2(col("m_avg_cents")).as("avg_order_value"),
      coalesce(col("m_completed"), lit(0L)).as("completed_orders"),
      Exact.dec2(coalesce(col("m_completed_cents"), lit(0L)))
        .as("completed_revenue"),
      coalesce(col("m_active_months"), lit(0L)).as("active_months"),
      col("m_first_ts").as("first_order_ts"),
      col("m_last_ts").as("last_order_ts"),
      daysSince.as("days_since_last"),
      when(lifetimeCents >= TierPlatC, "PLATINUM")
        .when(lifetimeCents >= TierGoldC, "GOLD")
        .when(lifetimeCents >= TierSilverC, "SILVER")
        .otherwise("BRONZE").as("customer_tier"),
      recency.as("recency_score"),
      frequency.as("frequency_score"),
      monetary.as("monetary_score"),
      concat(recency.cast("string"), frequency.cast("string"),
        monetary.cast("string")).as("rfm_segment"),
      (lifetimeOrders >= 2).as("is_repeat_customer"),
      coalesce(daysSince <= 90, lit(false)).as("is_active_customer"),
      when(lifetimeOrders === 0, "PROSPECT")
        .when(daysSince <= 180, "ACTIVE")
        .when(daysSince <= 540, "LAPSING")
        .otherwise("DORMANT").as("lifecycle_stage"),
      when(lifetimeOrders > 0,
        Exact.dec4(Exact.halfUpDiv(
          coalesce(col("m_completed"), lit(0L)) * 10000, lifetimeOrders)))
        .as("completed_rate"))
      .orderBy("c_custkey")
  }

  /** DuckDB oracle mirroring [[customerLifetimeRollup]] exactly —
    * including physical types (BIGINT counts, INTEGER scores). */
  def rollupOracleSql(anchor: String): String =
    s"""WITH m AS (
      |  SELECT o_custkey,
      |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS m_orders,
      |    CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
      |      AS m_cents,
      |    CAST(${Exact.halfUpDivSql(
             s"sum(${Exact.centsSql("o_totalprice")})", "count(*)")}
      |      AS BIGINT) AS m_avg_cents,
      |    CAST(count(DISTINCT CASE WHEN o_orderstatus = 'F'
      |      THEN o_orderkey END) AS BIGINT) AS m_completed,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F'
      |      THEN ${Exact.centsSql("o_totalprice")} ELSE 0 END) AS BIGINT)
      |      AS m_completed_cents,
      |    CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
      |      AS m_active_months,
      |    min(o_orderdate) AS m_first_ts,
      |    max(o_orderdate) AS m_last_ts
      |  FROM orders
      |  WHERE o_custkey IS NOT NULL
      |    AND o_orderstatus IN ('O','F','P') AND o_totalprice > 0
      |  GROUP BY o_custkey),
      |j AS (
      |  SELECT c.*, m.*, n.n_name,
      |    CAST(date_diff('day', CAST(m.m_last_ts AS DATE), DATE '$anchor')
      |      AS INTEGER) AS days_since,
      |    COALESCE(m.m_orders, 0) AS lt_orders,
      |    COALESCE(m.m_cents, 0) AS lt_cents
      |  FROM customer c
      |  LEFT JOIN m ON c.c_custkey = m.o_custkey
      |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey)
      |SELECT c_custkey, c_name, c_mktsegment, n_name AS nation_name,
      |  lt_orders AS lifetime_orders,
      |  ${Exact.dec2Sql("lt_cents")} AS lifetime_value,
      |  ${Exact.dec2Sql("m_avg_cents")} AS avg_order_value,
      |  COALESCE(m_completed, 0) AS completed_orders,
      |  ${Exact.dec2Sql("COALESCE(m_completed_cents, 0)")}
      |    AS completed_revenue,
      |  COALESCE(m_active_months, 0) AS active_months,
      |  m_first_ts AS first_order_ts,
      |  m_last_ts AS last_order_ts,
      |  days_since AS days_since_last,
      |  CASE WHEN lt_cents >= 400000000 THEN 'PLATINUM'
      |       WHEN lt_cents >= 250000000 THEN 'GOLD'
      |       WHEN lt_cents >= 100000000 THEN 'SILVER'
      |       ELSE 'BRONZE' END AS customer_tier,
      |  CASE WHEN days_since IS NULL THEN 1 WHEN days_since <= 90 THEN 5
      |       WHEN days_since <= 180 THEN 4 WHEN days_since <= 365 THEN 3
      |       WHEN days_since <= 730 THEN 2 ELSE 1 END AS recency_score,
      |  CASE WHEN lt_orders >= 15 THEN 5 WHEN lt_orders >= 12 THEN 4
      |       WHEN lt_orders >= 8 THEN 3 WHEN lt_orders >= 4 THEN 2
      |       ELSE 1 END AS frequency_score,
      |  CASE WHEN lt_cents >= 400000000 THEN 5
      |       WHEN lt_cents >= 250000000 THEN 4
      |       WHEN lt_cents >= 150000000 THEN 3
      |       WHEN lt_cents >= 50000000 THEN 2
      |       ELSE 1 END AS monetary_score,
      |  CAST(CASE WHEN days_since IS NULL THEN 1
      |       WHEN days_since <= 90 THEN 5 WHEN days_since <= 180 THEN 4
      |       WHEN days_since <= 365 THEN 3 WHEN days_since <= 730 THEN 2
      |       ELSE 1 END AS VARCHAR) ||
      |  CAST(CASE WHEN lt_orders >= 15 THEN 5 WHEN lt_orders >= 12 THEN 4
      |       WHEN lt_orders >= 8 THEN 3 WHEN lt_orders >= 4 THEN 2
      |       ELSE 1 END AS VARCHAR) ||
      |  CAST(CASE WHEN lt_cents >= 400000000 THEN 5
      |       WHEN lt_cents >= 250000000 THEN 4
      |       WHEN lt_cents >= 150000000 THEN 3
      |       WHEN lt_cents >= 50000000 THEN 2 ELSE 1 END AS VARCHAR)
      |    AS rfm_segment,
      |  lt_orders >= 2 AS is_repeat_customer,
      |  COALESCE(days_since <= 90, false) AS is_active_customer,
      |  CASE WHEN lt_orders = 0 THEN 'PROSPECT'
      |       WHEN days_since <= 180 THEN 'ACTIVE'
      |       WHEN days_since <= 540 THEN 'LAPSING'
      |       ELSE 'DORMANT' END AS lifecycle_stage,
      |  CASE WHEN lt_orders > 0
      |       THEN ${Exact.dec4Sql(Exact.halfUpDivSql(
                "COALESCE(m_completed, 0)*10000", "lt_orders"))}
      |       END AS completed_rate
      |FROM j ORDER BY c_custkey""".stripMargin
}
