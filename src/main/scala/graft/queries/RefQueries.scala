package graft.queries

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.io.Tables
import graft.ops.{CdcDedup, Exact, Metrics}

/** Reference-surface operators (SURVEY.md §2) as named, oracle-checked
  * queries over the driver's TPC-H-ish testdata.
  *
  * Conventions shared with the DuckDB oracles:
  *  - every query ends in a deterministic ORDER BY on a unique key;
  *  - `current_date` is frozen to ANCHOR (reference uses CURRENT_DATE at
  *    `dim_customer.sql:47–51` — nondeterministic, so pinned for tests);
  *  - integer-ish derivations are cast so Spark and DuckDB agree on
  *    physical type (DuckDB `year()` is BIGINT, Spark's is INT, etc.);
  *  - money aggregates over doubles are rounded to 2 decimals.
  */
object RefQueries {

  /** Frozen "today" for the orders tables (testdata o_orderdate spans
    * 1995-01..2001-08; any fixed anchor ≥ max(o_orderdate) works). */
  val Anchor = "2001-09-01"
  private def anchorLit: Column = lit(Date.valueOf(Anchor))

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // Cross-engine exact arithmetic — see graft.ops.Exact for rationale.
  private def cents(c: Column): Column = Exact.cents(c)
  private def oCents(e: String): String = Exact.centsSql(e)

  // ---------------------------------------------------------------- P1/S1
  val q01ScanProject: Q = Q(
    "q01_scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""
      .stripMargin) {
    // testdata (l_orderkey, l_linenumber) is NOT unique — sort by every
    // output column so row order is total in both engines.
    (s, d) =>
      T(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  }

  // ------------------------------------------------------------ P3/P7/P8/P9
  val q02FilterPred: Q = Q(
    "q02_filter_pred",
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_discount
      |FROM lineitem
      |WHERE l_returnflag IN ('A','R')
      |  AND l_quantity >= 10 AND l_quantity < 45
      |  AND l_shipdate IS NOT NULL
      |  AND l_discount BETWEEN 0.02 AND 0.08
      |  AND l_extendedprice > l_quantity * 1000
      |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity,
      |  l_discount""".stripMargin) { (s, d) =>
    T(s, d, "lineitem")
      .filter(col("l_returnflag").isin("A", "R")
        && col("l_quantity") >= 10 && col("l_quantity") < 45
        && col("l_shipdate").isNotNull
        && col("l_discount").between(0.02, 0.08)
        && col("l_extendedprice") > col("l_quantity") * 1000)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_discount")
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_discount")
  }

  // ---------------------------------------------------- F19/F20 CASE ladders
  // Status canonicalization idiom from reference orders_cleaned.sql:77–121.
  val q03CaseStatus: Q = Q(
    "q03_case_status",
    """SELECT o_orderkey,
      |  CASE WHEN upper(trim(o_orderstatus)) = 'O' THEN 'OPEN'
      |       WHEN upper(trim(o_orderstatus)) = 'F' THEN 'FULFILLED'
      |       WHEN upper(trim(o_orderstatus)) = 'P' THEN 'PENDING'
      |       ELSE 'UNKNOWN' END AS canon_status,
      |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'HIGH'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'MEDIUM'
      |       ELSE 'LOW' END AS priority_bucket,
      |  upper(trim(o_orderstatus)) = 'O' AS is_open
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val st = upper(trim(col("o_orderstatus")))
    T(s, d, "orders")
      .select(col("o_orderkey"),
        when(st === "O", "OPEN").when(st === "F", "FULFILLED")
          .when(st === "P", "PENDING").otherwise("UNKNOWN")
          .as("canon_status"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "HIGH")
          .when(col("o_orderpriority") === "3-MEDIUM", "MEDIUM")
          .otherwise("LOW").as("priority_bucket"),
        (st === "O").as("is_open"))
      .orderBy("o_orderkey")
  }

  // ------------------------------------------------------------- F1–F7
  val q04StringClean: Q = Q(
    "q04_string_clean",
    """SELECT c_custkey,
      |  upper(trim(c_name)) AS name_upper,
      |  trim(c_name) || ' [' || c_mktsegment || ']' AS display_name,
      |  CAST(length(c_name) AS INTEGER) AS name_len,
      |  regexp_replace(c_name, '[^0-9]', '', 'g') AS digits,
      |  regexp_matches(c_name, '^Customer#[0-9]+$') AS is_wellformed,
      |  c_mktsegment <> '' AS seg_nonempty
      |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
    T(s, d, "customer")
      .select(col("c_custkey"),
        upper(trim(col("c_name"))).as("name_upper"),
        concat(trim(col("c_name")), lit(" ["), col("c_mktsegment"), lit("]"))
          .as("display_name"),
        length(col("c_name")).as("name_len"),
        regexp_replace(col("c_name"), "[^0-9]", "").as("digits"),
        col("c_name").rlike("^Customer#[0-9]+$").as("is_wellformed"),
        (col("c_mktsegment") =!= "").as("seg_nonempty"))
      .orderBy("c_custkey")
  }

  // ------------------------------------------------------------- F8–F14
  val q05Dates: Q = Q(
    "q05_dates",
    s"""SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  CAST(month(o_orderdate) AS INTEGER) AS order_month,
      |  CAST(day(o_orderdate) AS INTEGER) AS order_day,
      |  CAST(hour(o_orderdate) AS INTEGER) AS order_hour,
      |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_num,
      |  CASE CAST(dayofweek(o_orderdate) + 1 AS INTEGER)
      |    WHEN 1 THEN 'Sunday' WHEN 2 THEN 'Monday' WHEN 3 THEN 'Tuesday'
      |    WHEN 4 THEN 'Wednesday' WHEN 5 THEN 'Thursday' WHEN 6 THEN 'Friday'
      |    ELSE 'Saturday' END AS dow_name,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '$Anchor')
      |       AS INTEGER) AS days_to_anchor,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  DATE '$Anchor' - 90 AS anchor_minus_90
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val od = col("o_orderdate")
    val dow = dayofweek(od)
    T(s, d, "orders")
      .select(col("o_orderkey"),
        year(od).as("order_year"),
        month(od).as("order_month"),
        dayofmonth(od).as("order_day"),
        hour(od).as("order_hour"),
        dow.as("dow_num"),
        when(dow === 1, "Sunday").when(dow === 2, "Monday")
          .when(dow === 3, "Tuesday").when(dow === 4, "Wednesday")
          .when(dow === 5, "Thursday").when(dow === 6, "Friday")
          .otherwise("Saturday").as("dow_name"),
        to_date(od).as("order_date"),
        datediff(anchorLit, to_date(od)).as("days_to_anchor"),
        date_trunc("month", od).as("month_start"),
        date_sub(anchorLit, 90).as("anchor_minus_90"))
      .orderBy("o_orderkey")
  }

  // ------------------------------------------------------------ F15–F18
  // round(money, 2) is computed in exact integer space (Exact.halfUpDiv):
  // inputs carry 2 decimals, so net = cents·(100-disc_bp) is an exact
  // integer in 1e-4 dollars, rounded half-up to cents — identical in any
  // engine, unlike double round().
  val q06MathRound: Q = {
    val epC = Exact.centsSql("l_extendedprice")
    val dBp = Exact.centsSql("l_discount")
    val tBp = Exact.centsSql("l_tax")
    Q("q06_math_round",
      s"""SELECT l_orderkey, l_linenumber,
        |  ${Exact.dec2Sql(Exact.halfUpDivSql(s"$epC*(100-$dBp)", "100"))}
        |    AS net_price,
        |  ${Exact.dec2Sql(
             Exact.halfUpDivSql(s"$epC*(100-$dBp)*(100+$tBp)", "10000"))}
        |    AS charge,
        |  CASE WHEN l_quantity <> 0 THEN ${Exact.dec4Sql(
             Exact.halfUpDivSql(s"$dBp*100", "CAST(l_quantity AS BIGINT)"))}
        |    END AS disc_per_unit,
        |  CAST(l_quantity AS INTEGER) AS qty_int,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
        |    AS price_dec,
        |  COALESCE(nullif(l_returnflag, 'N'), 'NONE') AS return_kind
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, net_price, charge, disc_per_unit,
        |  qty_int, price_dec, return_kind""".stripMargin) { (s, d) =>
      val epC2 = Exact.cents(col("l_extendedprice"))
      val dBp2 = Exact.cents(col("l_discount"))
      val tBp2 = Exact.cents(col("l_tax"))
      T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Exact.dec2(Exact.halfUpDiv(epC2 * (lit(100L) - dBp2), lit(100L)))
            .as("net_price"),
          Exact.dec2(Exact.halfUpDiv(
            epC2 * (lit(100L) - dBp2) * (lit(100L) + tBp2), lit(10000L)))
            .as("charge"),
          when(col("l_quantity") =!= 0,
            Exact.dec4(Exact.halfUpDiv(dBp2 * 100,
              col("l_quantity").cast("long")))).as("disc_per_unit"),
          col("l_quantity").cast(IntegerType).as("qty_int"),
          col("l_extendedprice").cast(DecimalType(12, 2)).cast("string")
            .as("price_dec"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("NONE"))
            .as("return_kind"))
        .orderBy("l_orderkey", "l_linenumber", "net_price", "charge",
          "disc_per_unit", "qty_int", "price_dec", "return_kind")
    }
  }

  // ------------------------------------------------------------- A1–A6
  // Money totals are summed as exact integer cents (order-independent),
  // then presented in dollars — raw double summation would differ from
  // the oracle in the last ulp depending on accumulation order.
  val q07AggGroup: Q = Q(
    "q07_agg_group",
    s"""SELECT o_custkey,
      |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
      |  ${Exact.dec2Sql(s"sum(${oCents("o_totalprice")})")} AS total_rev,
      |  ${Exact.dec2Sql(Exact.halfUpDivSql(
           s"sum(${oCents("o_totalprice")})", "count(*)"))} AS avg_rev,
      |  ${Exact.dec2Sql(s"min(${oCents("o_totalprice")})")} AS min_rev,
      |  ${Exact.dec2Sql(s"max(${oCents("o_totalprice")})")} AS max_rev,
      |  CAST(count(DISTINCT CASE WHEN o_orderstatus = 'F'
      |       THEN o_orderkey END) AS BIGINT) AS fulfilled_orders,
      |  ${Exact.dec2Sql(s"""sum(CASE WHEN o_orderstatus = 'O'
      |       THEN ${oCents("o_totalprice")} ELSE 0 END)""")} AS open_rev,
      |  CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
      |       AS active_months,
      |  CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
      |       DATE '$Anchor') AS INTEGER) AS days_since_last
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) {
    (s, d) =>
      val cent = cents(col("o_totalprice"))
      T(s, d, "orders")
        .groupBy("o_custkey")
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          Exact.dec2(sum(cent)).as("total_rev"),
          Exact.dec2(Exact.halfUpDiv(sum(cent), count(lit(1))))
            .as("avg_rev"),
          Exact.dec2(min(cent)).as("min_rev"),
          Exact.dec2(max(cent)).as("max_rev"),
          countDistinct(when(col("o_orderstatus") === "F", col("o_orderkey")))
            .as("fulfilled_orders"),
          Exact.dec2(sum(when(col("o_orderstatus") === "O", cent)
            .otherwise(0L))).as("open_rev"),
          countDistinct(date_trunc("month", col("o_orderdate")))
            .as("active_months"),
          datediff(anchorLit, to_date(max(col("o_orderdate"))))
            .as("days_since_last"))
        .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- A7
  val q08AggGlobal: Q = Q(
    "q08_agg_global",
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      |  max(o_orderdate) AS last_order_ts,
      |  ${Exact.dec2Sql(s"sum(${oCents("o_totalprice")})")} AS total_rev
      |FROM orders""".stripMargin) { (s, d) =>
    T(s, d, "orders").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_custkey")).as("n_custs"),
      max("o_orderdate").as("last_order_ts"),
      Exact.dec2(sum(cents(col("o_totalprice")))).as("total_rev"))
  }

  // ---------------------------------------------------------------- J1
  // Validation left-join idiom from reference orders_cleaned.sql:308–314,
  // 372–373: does the order's customer exist? Small side broadcast.
  val q09JoinLeftValidate: Q = Q(
    "q09_join_left_validate",
    """SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment,
      |  c.c_custkey IS NOT NULL AS is_valid_customer,
      |  CASE WHEN o.o_totalprice >= 300000 THEN 'LARGE'
      |       WHEN o.o_totalprice >= 100000 THEN 'MEDIUM'
      |       ELSE 'SMALL' END AS order_size
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
    val o = T(s, d, "orders")
    val c = T(s, d, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
      .select(o("o_orderkey"), o("o_custkey"), c("c_mktsegment"),
        c("c_custkey").isNotNull.as("is_valid_customer"),
        when(o("o_totalprice") >= 300000, "LARGE")
          .when(o("o_totalprice") >= 100000, "MEDIUM")
          .otherwise("SMALL").as("order_size"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- J2
  val q10JoinEnrichChain: Q = Q(
    "q10_join_enrich_chain",
    """SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
      |  r.r_name AS region_name,
      |  CASE WHEN c.c_acctbal < 0 THEN 'NEGATIVE'
      |       WHEN c.c_acctbal < 5000 THEN 'LOW'
      |       ELSE 'HIGH' END AS acct_bucket
      |FROM customer c
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
    val c = T(s, d, "customer")
    val n = T(s, d, "nation")
    val r = T(s, d, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(c("c_custkey"), c("c_name"), n("n_name").as("nation_name"),
        r("r_name").as("region_name"),
        when(c("c_acctbal") < 0, "NEGATIVE")
          .when(c("c_acctbal") < 5000, "LOW")
          .otherwise("HIGH").as("acct_bucket"))
      .orderBy("c_custkey")
  }

  // ------------------------------------------------------------- W1/W2+P2
  val q11WindowDedupLatest: Q = Q(
    "q11_window_dedup_latest",
    """SELECT user_id, event_id, last_ts, event_type, value FROM (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS last_ts,
      |    event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    CdcDedup.latestByKey(T(s, d, "events"),
        keys = Seq("user_id"), orderCols = Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("ts").as("last_ts"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  // ----------------------------------------------- §2.9 CDC envelope dedup
  // The reference's core primitive: rank CDC versions per key, keep rn=1,
  // drop keys whose latest op is DELETE (customers_latest.sql:33–38,153).
  val q12CdcDedup: Q = Q(
    "q12_cdc_dedup",
    """SELECT user_id, event_id, cdc_op, last_seen FROM (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_type = 'signup' THEN 'INSERT'
      |         WHEN event_type = 'error' THEN 'DELETE'
      |         ELSE 'UPDATE' END AS cdc_op,
      |    CAST(ts AS TIMESTAMP) AS last_seen,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 AND cdc_op <> 'DELETE'
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val withOp = T(s, d, "events").withColumn("cdc_op",
      when(col("event_type") === "signup", "INSERT")
        .when(col("event_type") === "error", "DELETE")
        .otherwise("UPDATE"))
    CdcDedup.latestByKey(withOp,
        keys = Seq("user_id"), orderCols = Seq(col("ts").desc, col("event_id").desc))
      .filter(col("cdc_op") =!= "DELETE")
      .select(col("user_id"), col("event_id"), col("cdc_op"),
        col("ts").as("last_seen"))
      .orderBy("user_id")
  }

  // ------------------------------------------------- J3 (decorrelated)
  // first_seen_at preservation: the reference's correlated scalar subquery
  // (customers_latest.sql:123–140) decorrelated into a pre-aggregated join.
  val q13FirstSeen: Q = Q(
    "q13_first_seen",
    """SELECT l.user_id, f.first_seen_at, l.last_ts, f.n_events,
      |  l.event_type AS latest_type
      |FROM (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts, event_type FROM (
      |    SELECT user_id, ts, event_type,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |    FROM events) t WHERE rn = 1) l
      |JOIN (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_seen_at,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY user_id) f ON l.user_id = f.user_id
      |ORDER BY l.user_id""".stripMargin) { (s, d) =>
    val ev = T(s, d, "events")
    val latest = CdcDedup.latestByKey(ev,
        keys = Seq("user_id"), orderCols = Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("ts").as("last_ts"), col("event_type"))
    val firstSeen = ev.groupBy("user_id")
      .agg(min("ts").as("first_seen_at"), count(lit(1)).as("n_events"))
    latest.join(firstSeen, Seq("user_id"))
      .select(col("user_id"), col("first_seen_at"), col("last_ts"),
        col("n_events"), col("event_type").as("latest_type"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------------- P6/J4
  // High-watermark incremental gate: scalar watermark collected to the
  // driver, injected as a literal predicate so Catalyst pushes it into the
  // parquet scan (reference orders_cleaned.sql:53–59).
  // sideEffecting: highWatermark collects the scalar at BUILD time (the
  // sanctioned driver-side collect) — plan-only tools must skip it.
  val q14WatermarkFilter: Q = Q(
    name = "q14_watermark_filter",
    sideEffecting = true,
    oracle = Some(
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >
      |  (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 7 DAY FROM events)
      |ORDER BY event_id""".stripMargin),
    build = { (s, d) =>
      val ev = T(s, d, "events")
      val cutoff = graft.ops.Watermark.highWatermark(ev, "ts", shiftDays = 7)
      ev.filter(col("ts") > lit(cutoff))
        .select("event_id", "user_id", "ts", "event_type")
        .orderBy("event_id")
    })

  // ------------------------------------- Flagship: dim_customer rollup
  val q15Flagship: Q = Q(
    "q15_flagship_rollup", Metrics.rollupOracleSql(Anchor)) { (s, d) =>
    Metrics.customerLifetimeRollup(
      T(s, d, "orders"), T(s, d, "customer"), T(s, d, "nation"),
      Date.valueOf(Anchor))
  }

  // ------------------------------------------------- event-time windows
  // Tumbling 1-hour event-time aggregation: a date_trunc-hour groupBy.
  val q16EventWindows: Q = Q(
    "q16_event_windows",
    s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
      |    AS window_start,
      |  event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  ${Exact.dec2Sql(s"sum(${oCents("value")})")} AS total_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin) {
    (s, d) =>
      T(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Exact.dec2(sum(cents(col("value")))).as("total_value"))
        .orderBy("window_start", "event_type")
  }

  // ---------------------------------------------------- sessionization
  // Gap-based sessionization via lag window — the batch analog of
  // session windows in Structured Streaming.
  val q17Sessionize: Q = Q(
    "q17_sessionize",
    s"""SELECT user_id,
      |  CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  ${Exact.dec2Sql(s"sum(${oCents("value")})")} AS total_value
      |FROM (
      |  SELECT user_id, value,
      |    sum(is_new) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, value, ts, event_id,
      |      CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
      |          ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL THEN 1
      |        WHEN epoch_us(CAST(ts AS TIMESTAMP))
      |          - epoch_us(lag(CAST(ts AS TIMESTAMP))
      |            OVER (PARTITION BY user_id
      |              ORDER BY CAST(ts AS TIMESTAMP), event_id))
      |          > 1800000000 THEN 1 ELSE 0 END AS is_new
      |    FROM events WHERE ts IS NOT NULL) g) t
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // gap in exact microseconds (a seconds cast would truncate and
    // disagree with the oracle on sub-second boundaries)
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    T(s, d, "events")
      // an event with no timestamp belongs to no session — and the
      // engines would otherwise ORDER it differently (Spark windows
      // sort NULLS FIRST, DuckDB NULLS LAST), shifting every session id
      .filter(col("ts").isNotNull)
      .withColumn("is_new",
        when(lag(col("ts"), 1).over(w).isNull, 1)
          .when(gap > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id")
      .agg(countDistinct(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        Exact.dec2(sum(cents(col("value")))).as("total_value"))
      .orderBy("user_id")
  }

  // ------------------------------------------------------ JSON extraction
  val q18JsonExtract: Q = Q(
    "q18_json_extract",
    // malformed/nested-prop tolerance: Spark's get_json_object NULLs
    // invalid JSON while DuckDB's json_extract raises — the oracle
    // guards with json_valid; a nested object under $.k survives
    // extraction as a string on both engines and must TRY_CAST to
    // NULL, not kill the query (Spark 4 ANSI cast throws)
    """SELECT event_id,
      |  TRY_CAST(CASE WHEN json_valid(props)
      |    THEN json_extract(props, '$.k') END AS INTEGER) AS prop_k,
      |  TRY_CAST(CASE WHEN json_valid(props)
      |    THEN json_extract(props, '$.k') END AS INTEGER) % 10 AS k_mod
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    val k = expr("try_cast(get_json_object(props, '$.k') AS int)")
    T(s, d, "events")
      .select(col("event_id"), k.as("prop_k"), (k % 10).as("k_mod"))
      .orderBy("event_id")
  }

  // ------------------------------------------- approximate aggregates
  // Scale path for COUNT(DISTINCT): HyperLogLog++ sketches merge
  // map-side (no expand, no per-distinct shuffle) — at 100 TB the
  // difference between shuffling every distinct value and shuffling a
  // fixed-size sketch per group. Sketch estimates are engine-specific
  // → rows-only driver check; ApproxSpec bounds the relative error
  // against the exact count.
  // --------------------------------- approximate distinct (HLL sketch)
  // EXPLICIT-REGISTER HyperLogLog instead of the opaque
  // approx_count_distinct buffer: register index = top p hash bits,
  // rho = leading-zero run of the remaining window (+1), registers
  // max-merged — a real mergeable sketch (register rows ADD-merge
  // across shards/batches with one more max-groupBy; the built-in's
  // binary buffer can't be inspected, persisted to a model table, or
  // cross-checked). Every step is integer arithmetic except the final
  // harmonic fold, which both engines evaluate as the SAME IEEE ops in
  // the SAME register order (sorted fold of exact 2^-reg terms), so
  // the estimate — including the linear-counting branch, table-driven
  // to keep libm out of SQL — is bit-reproducible and DuckDB-checkable.
  // m = 2^11 registers → ~2.3% standard error (HllSpec bounds it).
  val HllP = 11
  val HllM: Int = 1 << HllP
  private val HllWinBits = 64 - HllP
  private val HllAlphaM2: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM.toDouble * HllM.toDouble
  // linear-counting values m·ln(m/V), computed ONCE here and shared by
  // engine (broadcast-joined literal frame) and oracle (VALUES list) —
  // the two sides must use identical doubles, and shortest-repr
  // round-trips exactly through both literal parsers
  private[queries] val HllLcTable: Seq[(Int, Double)] =
    (1 until HllM).map(v => v -> HllM * math.log(HllM.toDouble / v))

  private def q33OracleSql: String = {
    // NULL user_ids are EXCLUDED from the sketch, matching
    // count(DISTINCT user_id)'s null-skip: unfiltered, Spark's
    // xxhash64 would skip the null child (register of the bare seed —
    // counting null as one "user") while the oracle's chain would
    // propagate NULL — three different answers on one corpus
    val hashed = graft.ops.DuckHash.chain(
      "SELECT DISTINCT event_type, user_id FROM events " +
        "WHERE user_id IS NOT NULL", "user_id")
    val lcRows = HllLcTable.map { case (v, d) => s"($v, $d)" }
      .mkString(", ")
    s"""WITH hh AS ($hashed),
       |rb AS (
       |  SELECT event_type,
       |    CAST(hu >> $HllWinBits AS BIGINT) AS idx,
       |    CAST(hu & ${(1L << HllWinBits) - 1}::UBIGINT AS BIGINT) AS wv
       |  FROM (SELECT event_type, ${graft.ops.DuckHash.toU("xxh")} AS hu
       |        FROM hh)),
       |regs AS (
       |  SELECT event_type, idx,
       |    max(CASE WHEN wv = 0 THEN ${HllWinBits + 1}
       |        ELSE ${HllWinBits + 1} - length(bin(wv)) END) AS reg
       |  FROM rb GROUP BY 1, 2),
       |gr AS (
       |  SELECT event_type, count(*) AS np,
       |    list(1.0 / CAST(1::BIGINT << reg AS DOUBLE) ORDER BY idx)
       |      AS terms
       |  FROM regs GROUP BY event_type),
       |ss AS (
       |  SELECT event_type, $HllM - np AS v0,
       |    list_reduce(list_prepend(CAST($HllM - np AS DOUBLE), terms),
       |      (a, x) -> a + x) AS ssum
       |  FROM gr),
       |lc(v0, lcv) AS (SELECT * FROM (VALUES $lcRows)),
       |est AS (
       |  SELECT s.event_type,
       |    CASE WHEN s.v0 > 0 AND $HllAlphaM2 / s.ssum <= ${2.5 * HllM}
       |         THEN l.lcv ELSE $HllAlphaM2 / s.ssum END AS es
       |  FROM ss s LEFT JOIN lc l USING (v0)),
       |ex AS (
       |  SELECT event_type,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       |    CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1)
       |SELECT x.event_type,
       |  coalesce(CAST(floor(e.es + 0.5) AS BIGINT), 0) AS approx_users,
       |  x.exact_users, x.n_events
       |FROM ex x LEFT JOIN est e USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  val q33ApproxDistinct: Q = Q("q33_approx_distinct", q33OracleSql) {
    (s, d) =>
      val h = xxhash64(col("user_id"))
      val wv = h.bitwiseAND(lit((1L << HllWinBits) - 1))
      // null users excluded — the sketch must count what
      // countDistinct counts (see the oracle-side note)
      val regs = T(s, d, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_type"),
          shiftrightunsigned(h, HllWinBits).as("idx"),
          when(wv === 0L, lit(HllWinBits + 1))
            .otherwise(lit(HllWinBits + 1) - length(bin(wv))).as("rho"))
        .groupBy("event_type", "idx").agg(max("rho").as("reg"))
      val folded = regs
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("idx"), col("reg"))))
          .as("rs"))
        .select(col("event_type"),
          (lit(HllM) - size(col("rs"))).as("v0"),
          aggregate(col("rs"),
            (lit(HllM) - size(col("rs"))).cast("double"),
            (acc, x) => acc + lit(1.0) /
              call_function("shiftleft", lit(1L), x.getField("reg"))
                .cast("double")).as("ssum"))
      val lcDf = {
        import s.implicits._
        HllLcTable.toDF("v0", "lcv")
      }
      val est0 = lit(HllAlphaM2) / col("ssum")
      val approx = folded
        .join(broadcast(lcDf), Seq("v0"), "left")
        .select(col("event_type"),
          floor(when(col("v0") > 0 && est0 <= lit(2.5 * HllM),
            col("lcv")).otherwise(est0) + lit(0.5)).cast("long")
            .as("approx_users"))
      val exact = T(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
      // exact drives the join: a group whose user_ids are ALL null has
      // no registers, but must surface with approx 0 (= its exact
      // count), not vanish
      exact.join(approx, Seq("event_type"), "left")
        .select(col("event_type"),
          coalesce(col("approx_users"), lit(0L)).as("approx_users"),
          col("exact_users"), col("n_events"))
        .orderBy("event_type")
  }

  // Exact companion of q33, oracle-checked (the HLL estimate above is
  // engine-specific, the exact distinct counts are not).
  val q40ExactDistinct: Q = Q(
    "q40_exact_distinct",
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
      T(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
  }

  // --------------------------------------- S3/S6 MERGE + schema sync
  // The merge emulation itself, oracle-checked: target = pre-split
  // orders, updates = post-split orders carrying a NEW column
  // (sync_all_columns: kept target rows are null-backfilled). Matched
  // keys take the update; unmatched target rows survive.
  val MergeSplit = "1999-01-01"
  val q36MergeUpsert: Q = Q(
    "q36_merge_upsert",
    s"""WITH old AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderdate < TIMESTAMP '$MergeSplit'),
      |new AS (
      |  SELECT o_orderkey, o_custkey,
      |    'U_' || o_orderstatus AS o_orderstatus, o_totalprice,
      |    true AS refreshed
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '$MergeSplit')
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  refreshed FROM (
      |  SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
      |    o.o_totalprice, CAST(NULL AS BOOLEAN) AS refreshed
      |  FROM old o WHERE NOT EXISTS (
      |    SELECT 1 FROM new n WHERE n.o_orderkey = o.o_orderkey)
      |  UNION ALL SELECT * FROM new) t
      |ORDER BY o_orderkey, o_orderstatus, o_totalprice""".stripMargin) {
    (s, d) =>
      val orders = T(s, d, "orders")
      val split = lit(java.sql.Timestamp.valueOf(s"$MergeSplit 00:00:00"))
      val old = orders.filter(col("o_orderdate") < split)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val updates = orders.filter(col("o_orderdate") >= split)
        .select(col("o_orderkey"), col("o_custkey"),
          concat(lit("U_"), col("o_orderstatus")).as("o_orderstatus"),
          col("o_totalprice"), lit(true).as("refreshed"))
      graft.io.MergeWriter.merge(old, updates, "o_orderkey")
        .orderBy("o_orderkey", "o_orderstatus", "o_totalprice")
  }

  // --------------------------------------------- skew-safe salted agg
  // Salted two-phase aggregation must equal the direct GROUP BY — the
  // oracle IS the direct form, so the equivalence is t2-checked.
  val q37SaltedAgg: Q = Q(
    "q37_salted_agg",
    s"""SELECT o_custkey,
      |  ${Exact.dec2Sql(s"sum(${oCents("o_totalprice")})")} AS total_rev,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  ${Exact.dec2Sql(s"max(${oCents("o_totalprice")})")} AS max_rev
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) {
    (s, d) =>
      import graft.ops.Salt
      val cent = cents(col("o_totalprice"))
      Salt.saltedAgg(T(s, d, "orders"), "o_custkey",
          uniq = col("o_orderkey"), buckets = 8,
          partialAggs = Seq(sum(cent).as("pc"),
            count(lit(1)).as("pn"), max(cent).as("pm")),
          finalAggs = Seq(Exact.dec2(sum("pc")).as("total_rev"),
            sum("pn").as("n_orders"), Exact.dec2(max("pm")).as("max_rev")))
        .orderBy("o_custkey")
  }

  // --------------------------------------------- skew-safe salted join
  // Join-side complement of q37: the salted shuffle join must be
  // row-for-row the plain join — the oracle IS the plain-join form.
  val q74SaltedJoin: Q = Q(
    "q74_salted_join",
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) =>
      import graft.ops.Salt
      Salt.saltedJoin(
          T(s, d, "events"), col("user_id"), uniq = col("event_id"),
          T(s, d, "customer"), col("c_custkey"), buckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"))
        .orderBy("c_mktsegment")
  }

  val all: Seq[Q] = Seq(
    q01ScanProject, q02FilterPred, q03CaseStatus, q04StringClean, q05Dates,
    q06MathRound, q07AggGroup, q08AggGlobal, q09JoinLeftValidate,
    q10JoinEnrichChain, q11WindowDedupLatest, q12CdcDedup, q13FirstSeen,
    q14WatermarkFilter, q15Flagship, q16EventWindows, q17Sessionize,
    q18JsonExtract, q33ApproxDistinct, q40ExactDistinct, q36MergeUpsert,
    q37SaltedAgg, q74SaltedJoin)
}
