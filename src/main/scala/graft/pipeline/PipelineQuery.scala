package graft.pipeline

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}

import graft.io.ModelStore
import graft.model.{Pipeline, RunMode}
import graft.ops.Exact
import graft.queries.Q

/** The whole medallion pipeline as one driver-checkable query: bronze
  * CDC feeds synthesized from the testdata (DemoCdc), bootstrap run of
  * customers_latest → orders_cleaned → dim_customer through the real
  * Pipeline/ModelStore/MergeWriter machinery, returning the gold
  * dimension. Deterministic (frozen clock, pure-function CDC
  * synthesis) but not single-SQL-expressible → rows-only driver check;
  * PipelineSpec/ConvergenceSpec carry the semantic assertions.
  *
  * This is also the engine's primary end-to-end benchmark subject: at
  * sf0.1 it cleans 150k CDC order rows, validates them against 15k
  * customers, and rebuilds the dimension — writes included.
  */
object PipelineQuery {

  val clock: Clock = Clock(
    Date.valueOf("2001-09-01"), Timestamp.valueOf("2001-09-01 00:00:00"))

  /** Orders strictly before this date form the bootstrap batch; the
    * rest arrive as the incremental batch (≈⅓ of the data — the
    * watermark gate must prune the bootstrap span from the second
    * run's scan). */
  val IncrementalSplit = "2000-01-01"

  /** Temp store dirs deleted by ONE static hook at JVM exit (the
    * returned DataFrame lazily reads from them, so they can't be
    * deleted earlier; per-invocation hooks would accumulate threads in
    * long-lived JVMs). */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      tempDirs.forEach(rm(_))
    }))
  }
  /** Scratch ModelStore roots live on RAM-backed tmpfs when the host
    * provides one (`/dev/shm`), falling back to `java.io.tmpdir`.
    * These stores are ephemeral by construction — synthesized, read
    * back within the same query, deleted at JVM exit — so the fastest
    * local medium is the right home for them, exactly as an engine's
    * spill/shuffle scratch goes to the fastest disk available. A real
    * deployment materializes DURABLE tables through a ModelStore
    * rooted on persistent storage (the caller chooses the root); this
    * helper only serves the self-contained demo/benchmark queries. */
  private val scratchBase: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    // capacity gate, not just writability: containers commonly mount a
    // 64 MB /dev/shm, where data-sized scratch writes would ENOSPC
    // mid-query — below the floor the stores stay on java.io.tmpdir
    val minUsable = 4L << 30
    try {
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) &&
          java.nio.file.Files.getFileStore(shm)
            .getUsableSpace >= minUsable) Some(shm)
      else None
    } catch { case _: java.io.IOException => None }
  }
  private[graft] def tempStoreDir(): String = {
    val dir = scratchBase match {
      case Some(base) => Files.createTempDirectory(base, "graft-e2e")
      case None => Files.createTempDirectory("graft-e2e")
    }
    tempDirs.add(dir.toFile)
    dir.toString
  }

  /** Output contract for the oracle compare: the stored dimension's
    * six computed-double columns rendered as fixed-format strings
    * (check.py bans computed doubles in oracle-checked outputs — sums
    * of doubles carry order-dependent ULP noise). Money sums go
    * through exact cents; `average_order_value` is re-derived as
    * cents(lifetime_value)/lifetime_orders half-up (same exact inputs
    * on both engines, vs. the stored float quotient whose 3rd decimal
    * can sit on a rounding boundary); `cancellation_rate` mirrors the
    * model's guarded ratio; `data_quality_score` is a per-row double
    * (identical IEEE ops both sides) → dbl4. */
  private def presentForOracle(dim: DataFrame): DataFrame = dim
    // average first, from the RAW double column — after the next
    // withColumn, lifetime_value is a string and the cents would have
    // to round-trip through its formatting
    .withColumn("average_order_value",
      when(col("lifetime_orders") > 0,
        Exact.dec2(Exact.halfUpDiv(
          Exact.cents(col("lifetime_value")),
          col("lifetime_orders"))))
        .otherwise(lit("0.00")))
    .withColumn("lifetime_value",
      Exact.dec2(Exact.cents(col("lifetime_value"))))
    .withColumn("delivered_revenue",
      Exact.dec2(Exact.cents(col("delivered_revenue"))))
    .withColumn("revenue_last_90_days",
      Exact.dec2(Exact.cents(col("revenue_last_90_days"))))
    .withColumn("cancellation_rate",
      when(col("cancelled_orders") > 0 && col("completed_orders") > 0,
        Exact.dec4(Exact.halfUpDiv(col("cancelled_orders") * 10000,
          col("completed_orders") + col("cancelled_orders"))))
        .otherwise(lit("0.0000")))
    .withColumn("data_quality_score", Exact.dbl4(col("data_quality_score")))

  /** The medallion E2E, oracle-certified (upgraded from rows-only in
    * round 5): ConvergenceSpec proves bootstrap + watermark-gated
    * incremental lands the SAME gold state as one batch over the full
    * feed, so the oracle is that batch — DemoCdc's synthesis plus the
    * three reference models (customers_latest → orders_cleaned →
    * dim_customer) as one SQL chain over `customer`/`nation`/`orders`.
    *
    * The SQL exploits feed invariants it documents inline (single
    * INSERT batch per key ⇒ CDC dedup and first_seen are identities;
    * no DELETEs; caps that cannot trigger at 8%/5% of total) and
    * mirrors the model quirks exactly (tier/region ladders comparing
    * UPPERCASED country to mixed-case literals ⇒ only USA/UK match).
    * All money math is exact integer cents end-to-end — DemoCdc
    * synthesizes tax/discount with halfUpDiv, every downstream
    * round(x,2) is an identity on 2-decimal values, and sums compare
    * through the cents presentation — so no double round() needs
    * cross-engine replication anywhere. */
  val qPipelineE2e: Q = Q(
    "q34_pipeline_e2e",
    s"""WITH cl AS (
      |  SELECT
      |    CAST(c_custkey AS VARCHAR) AS customer_id,
      |    lower(trim(regexp_replace(lower(c_name), '[^a-z0-9]', '.', 'g')
      |      || '@example.com')) AS email,
      |    trim(upper(substr(c_mktsegment,1,1)) || lower(substr(c_mktsegment,2)))
      |      || ' ' || trim(c_name) AS full_name,
      |    trim(CASE WHEN c_custkey % 15 = 0 THEN '555-01'
      |      ELSE '212-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
      |      END) AS phone,
      |    trim(array_to_string(list_transform(
      |      string_split(lower(n_name), ' '),
      |      w -> upper(w[1]) || w[2:]), ' ')) AS city,  -- initcap per word
      |    'NY' AS state,
      |    upper(CASE WHEN c_custkey % 4 = 0 THEN 'usa'
      |      WHEN c_custkey % 4 = 1 THEN 'Canada'
      |      WHEN c_custkey % 4 = 2 THEN 'UK' ELSE 'Australia' END) AS country,
      |    DATE '1994-06-01' AS registration_date,
      |    'ACTIVE' AS customer_status,
      |    upper(lower(c_mktsegment)) AS customer_segment,
      |    true AS is_email_valid,          -- name.dots@example.com always passes
      |    c_custkey % 15 <> 0 AS is_phone_valid,  -- '555-01' is the only short form
      |    true AS is_address_complete,     -- every synthesized field non-empty
      |    TIMESTAMP '2001-08-15 00:00:00' AS first_seen_at
      |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey),
      |-- orders_cleaned over the synthesized feed, in exact cents.
      |-- Single INSERT per order_id at ts=o_orderdate: CDC dedup and the
      |-- DELETE filter are identities. Caps: only the 50000 order_total
      |-- cap can trigger (tax=8% < 20% of raw; discount=5% < raw; ship
      |-- 0/9.99 < 200); every round(x,2) is an identity on the exact
      |-- 2-decimal feed values.
      |oenr AS (
      |  SELECT
      |    CAST(o_custkey AS VARCHAR) AS customer_id,
      |    o_orderdate AS order_date,
      |    CASE WHEN o_orderstatus = 'O' THEN 'CONFIRMED'
      |         WHEN o_orderstatus = 'F' THEN 'DELIVERED'
      |         ELSE 'SHIPPED' END AS order_status,
      |    total_cents - tax_cents AS net_cents,
      |    -- the model's is_valid_order in exact cents (customer
      |    -- existence/active always holds for the synthesized feed;
      |    -- the money test can FAIL on tiny totals — 0.92·total <
      |    -- ship — so it is mirrored, not assumed, in case a testdata
      |    -- regeneration changes the total distribution; the date
      |    -- test is mirrored too — a NULL o_orderdate invalidates
      |    -- the order, reference orders_cleaned.sql:308-320, found
      |    -- by the NULL-date adversarial swap)
      |    total_cents > 0 AND o_orderdate IS NOT NULL
      |      AND total_cents >= tax_cents + ship_cents - disc_cents
      |      AND disc_cents <= total_cents AS is_valid
      |  FROM (
      |    SELECT *,
      |      CASE WHEN o_totalprice > 50000 THEN 5000000
      |           ELSE raw_cents END AS total_cents,
      |      ((raw_cents * 8)*2 + 100) // 200 AS tax_cents,
      |      CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE 999 END AS ship_cents,
      |      CASE WHEN o_orderkey % 10 = 0
      |           THEN ((raw_cents * 5)*2 + 100) // 200
      |           ELSE 0 END AS disc_cents
      |    FROM (SELECT *, CAST(round(o_totalprice*100) AS BIGINT)
      |            AS raw_cents FROM orders) r) c),
      |-- no synthesized status maps to CANCELLED, so the status arm of
      |-- the metrics filter is only is_valid
      |om AS (
      |  SELECT customer_id,
      |    count(*) AS lifetime_orders,
      |    sum(net_cents) AS lifetime_cents,
      |    count(CASE WHEN order_status = 'DELIVERED' THEN 1 END)
      |      AS completed_orders,
      |    count(CASE WHEN order_status = 'CANCELLED' THEN 1 END)
      |      AS cancelled_orders,
      |    sum(CASE WHEN order_status = 'DELIVERED' THEN net_cents ELSE 0 END)
      |      AS delivered_cents,
      |    count(DISTINCT date_trunc('month', order_date)) AS active_months,
      |    count(CASE WHEN order_date >= DATE '2001-09-01' - 90 THEN 1 END)
      |      AS orders_last_90_days,
      |    sum(CASE WHEN order_date >= DATE '2001-09-01' - 90 THEN net_cents
      |      ELSE 0 END) AS revenue_90_cents,
      |    date_diff('day', CAST(max(order_date) AS DATE), DATE '2001-09-01')
      |      AS days_since_last_order
      |  FROM oenr WHERE is_valid GROUP BY customer_id)
      |SELECT
      |  cl.customer_id, cl.email, cl.full_name, cl.phone, cl.city, cl.state,
      |  -- gm ladder quirk: country is UPPERCASED, literals mixed-case —
      |  -- only USA and UK can match (dim_customer.sql:63-73)
      |  CASE WHEN cl.country IN ('USA', 'Canada') THEN 'North America'
      |       WHEN cl.country IN ('UK', 'Germany', 'France') THEN 'Europe'
      |       WHEN cl.country = 'Australia' THEN 'Asia Pacific'
      |       ELSE 'Other' END AS region,
      |  cl.registration_date, cl.customer_status, cl.customer_segment,
      |  CASE WHEN om.lifetime_cents >= 500000 AND om.lifetime_orders >= 20
      |         THEN 'PLATINUM'
      |       WHEN om.lifetime_cents >= 200000 AND om.lifetime_orders >= 10
      |         THEN 'GOLD'
      |       WHEN om.lifetime_cents >= 50000 AND om.lifetime_orders >= 5
      |         THEN 'SILVER'
      |       ELSE 'BRONZE' END AS customer_tier,
      |  CASE WHEN om.lifetime_orders IS NULL THEN 'PROSPECT'
      |       WHEN om.lifetime_orders = 1 THEN 'NEW'
      |       WHEN om.days_since_last_order <= 30 AND om.lifetime_orders >= 5
      |         THEN 'VIP'
      |       WHEN om.days_since_last_order <= 90 AND om.lifetime_orders >= 2
      |         THEN 'REGULAR'
      |       WHEN om.days_since_last_order > 365 THEN 'DORMANT'
      |       WHEN om.days_since_last_order > 90 THEN 'AT_RISK'
      |       ELSE 'ACTIVE' END AS enhanced_segment,
      |  CASE WHEN om.lifetime_orders IS NULL THEN 'PROSPECT'
      |       WHEN date_diff('day', cl.registration_date, DATE '2001-09-01')
      |         <= 30 THEN 'NEW_CUSTOMER'
      |       WHEN om.lifetime_orders = 1 AND om.days_since_last_order > 90
      |         THEN 'ONE_TIME_BUYER'
      |       WHEN om.lifetime_orders >= 2 AND om.days_since_last_order <= 90
      |         THEN 'REPEAT_CUSTOMER'
      |       WHEN om.lifetime_cents >= 100000 AND om.active_months >= 6
      |         THEN 'LOYAL_CUSTOMER'
      |       WHEN om.days_since_last_order > 365 THEN 'LOST_CUSTOMER'
      |       ELSE 'DEVELOPING_CUSTOMER' END AS lifecycle_stage,
      |  coalesce(om.lifetime_orders, 0) AS lifetime_orders,
      |  ${Exact.dec2Sql("coalesce(om.lifetime_cents, 0)")} AS lifetime_value,
      |  CASE WHEN om.lifetime_orders IS NULL THEN '0.00'
      |       ELSE ${Exact.dec2Sql(
                 Exact.halfUpDivSql("om.lifetime_cents", "om.lifetime_orders"))}
      |       END AS average_order_value,
      |  coalesce(om.completed_orders, 0) AS completed_orders,
      |  coalesce(om.cancelled_orders, 0) AS cancelled_orders,
      |  ${Exact.dec2Sql("coalesce(om.delivered_cents, 0)")}
      |    AS delivered_revenue,
      |  coalesce(om.days_since_last_order, 9999) AS days_since_last_order,
      |  CASE WHEN om.lifetime_orders > 1 THEN true ELSE false END
      |    AS is_repeat_customer,
      |  coalesce(om.orders_last_90_days, 0) AS orders_last_90_days,
      |  ${Exact.dec2Sql("coalesce(om.revenue_90_cents, 0)")}
      |    AS revenue_last_90_days,
      |  coalesce(om.active_months, 0) AS active_months,
      |  CASE WHEN om.lifetime_cents >= 100000 THEN true ELSE false END
      |    AS is_high_value_customer,
      |  CASE WHEN om.days_since_last_order <= 90 THEN true ELSE false END
      |    AS is_active_customer,
      |  CASE WHEN om.cancelled_orders > 0 AND om.completed_orders > 0
      |       THEN ${Exact.dec4Sql(Exact.halfUpDivSql(
                 "om.cancelled_orders*10000",
                 "(om.completed_orders+om.cancelled_orders)"))}
      |       ELSE '0.0000' END AS cancellation_rate,
      |  CASE WHEN om.days_since_last_order IS NULL THEN 1
      |       WHEN om.days_since_last_order <= 30 THEN 5
      |       WHEN om.days_since_last_order <= 90 THEN 4
      |       WHEN om.days_since_last_order <= 180 THEN 3
      |       WHEN om.days_since_last_order <= 365 THEN 2
      |       ELSE 1 END AS recency_score,
      |  CASE WHEN om.lifetime_orders IS NULL THEN 1
      |       WHEN om.lifetime_orders >= 20 THEN 5
      |       WHEN om.lifetime_orders >= 10 THEN 4
      |       WHEN om.lifetime_orders >= 5 THEN 3
      |       WHEN om.lifetime_orders >= 2 THEN 2
      |       ELSE 1 END AS frequency_score,
      |  CASE WHEN om.lifetime_cents IS NULL THEN 1
      |       WHEN om.lifetime_cents >= 200000 THEN 5
      |       WHEN om.lifetime_cents >= 100000 THEN 4
      |       WHEN om.lifetime_cents >= 50000 THEN 3
      |       WHEN om.lifetime_cents >= 10000 THEN 2
      |       ELSE 1 END AS monetary_score,
      |  ${Exact.dbl4Sql(
           "CAST(cl.is_email_valid AS INT) * CAST(0.4 AS DOUBLE)" +
             " + CAST(cl.is_phone_valid AS INT) * CAST(0.3 AS DOUBLE)" +
             " + CAST(cl.is_address_complete AS INT) * CAST(0.3 AS DOUBLE)")}
      |    AS data_quality_score,
      |  cl.is_email_valid, cl.is_phone_valid, cl.is_address_complete,
      |  cl.first_seen_at AS created_at,
      |  TIMESTAMP '2001-09-01 00:00:00' AS updated_at,
      |  cl.country
      |FROM cl LEFT JOIN om USING (customer_id)
      |ORDER BY cl.customer_id""".stripMargin) { (s, d) =>
    presentForOracle(runPipeline(s, d))
  }.copy(sideEffecting = true)

  // The build runs under the session's AQE. Disabling it for this run
  // lost its A/B (round 12, warm sf0.1): wall 17.3 → 21.6 s, task time
  // 145 → 311 s — AQE's coalescing is worth more than its re-planning
  // rounds cost on these ~12 materializations.
  private def runPipeline(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val models = new ReferenceModels(clock)
    val store = new ModelStore(tempStoreDir())
    // The synthesized bronze feeds are consumed by BOTH pipeline runs
    // (and by more than one action within a run: watermark scalars,
    // touched-partition discovery, the write itself). Cache them once —
    // the batch-ingestion analog of landing the CDC feed in a staging
    // table instead of re-reading the source per model. The watermark
    // gate still prunes inside the cached relation (in-memory batch
    // stats), and the frames are unpersisted before returning: the
    // result reads from the committed store, not from these plans.
    // Hash-repartition each feed on its CDC key before caching: the
    // testdata source is a single unsplittable parquet file (one row
    // group), so without this the synthesis of every wide column runs
    // on the one task the file split gave it and the cache itself is a
    // single block. Partitioning by the key is also exactly what every
    // downstream consumer needs (CdcDedup's window, the MERGE
    // anti-join all cluster on the key), so the one slim shuffle here
    // removes the post-explode exchanges there — at 100 TB this is the
    // "land the feed bucketed by merge key" discipline. Round 12: the
    // exchange moved BELOW the synthesis projection (distribute=true —
    // DemoCdc's scaladoc has the why: the raw one-row-group scan is
    // one task, so synthesis must run post-shuffle to use the cores,
    // and the exchange then carries the narrow raw row).
    val custCdc = DemoCdc.customersCdc(s, d, distribute = true).persist()
    val ordCdc = DemoCdc.ordersCdc(s, d, distribute = true).persist()
    // Populate both caches CONCURRENTLY up front (Spark's scheduler is
    // thread-safe): the orders feed is not consumed until the second
    // model, so serially its cache would materialize inside
    // orders_cleaned's critical path while most cores idle through the
    // small customers build. The eager parallel load is the staging
    // analog of overlapping feed ingestion with the first model build.
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.sequence(Seq(custCdc, ordCdc).map(df =>
          Future { df.count(): Unit })),
        Duration.Inf)
    }
    try {
      def sources(split: org.apache.spark.sql.DataFrame
          => org.apache.spark.sql.DataFrame) =
        (_: String, name: String) => name match {
          case "customers_cdc" => custCdc
          case "orders_cdc" => split(ordCdc)
          case other => sys.error(s"unknown source $other")
        }
      // bootstrap on the old span… The bootstrap materializations of
      // customers_latest and dim_customer are FULLY rewritten by the
      // incremental run that immediately follows (customers_latest is
      // an unpartitioned uniqueKey merge — always a whole-table
      // rewrite; dim_customer full-recomputes every customer each run,
      // so every stored partition is touched), so their ZORDER
      // clustering sort would order files no reader ever scans — the
      // orchestrator drops it for the bootstrap run only.
      // orders_cleaned keeps its clustering: its untouched month
      // partitions carry over by link into the final table.
      val bootstrapModels = models.all.map(m =>
        if (m.partitionBy.isEmpty || m.name == "dim_customer")
          m.copy(zorderBy = Nil)
        else m)
      new Pipeline(bootstrapModels, store,
        sources(df => df.filter(
          col("_cdc_timestamp") <
            lit(java.sql.Date.valueOf(IncrementalSplit)))))
        .run(s, RunMode.Bootstrap)
      // …then an incremental round over the full feed: the watermark gate
      // must scan only rows past the bootstrap high-water mark
      val out = new Pipeline(models.all, store, sources(identity))
        .run(s, RunMode.Incremental)
      out("dim_customer").orderBy(col("customer_id"))
    } finally { custCdc.unpersist(); ordCdc.unpersist(); () }
  }
}
