package graft.pipeline

import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{BuildCtx, RunMode}

/** Plan-shape guard for the gold dimension build: the round-2 Expand
  * removal rewrote six `COUNT(DISTINCT order_id [CASE…])` aggregates
  * as plain COUNTs (provably equal on the merge-unique orders table),
  * leaving `active_months` as the single true distinct — which plans
  * WITHOUT an Expand node. A regression re-introducing a second
  * distinct aggregate (or re-DISTINCTing the counts) would silently
  * put a 7-way Expand of the whole orders scan back into q34's
  * hottest stage; this spec pins the plan property itself. */
class DimPlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("dim_customer's order-metrics aggregation plans without Expand") {
    val customers = Seq(
      ("C1", "a@x.com", "A A", "212-555-0001", "Metropolis", "NY",
        "USA", Date.valueOf("2020-01-01"), "ACTIVE", "building",
        true, true, true,
        Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-01 00:00:00"), false))
      .toDF("customer_id", "email", "full_name", "phone", "city",
        "state", "country", "registration_date", "customer_status",
        "customer_segment", "is_email_valid", "is_phone_valid",
        "is_address_complete", "first_seen_at", "last_updated_at",
        "is_deleted")
    val orders = Seq(
      ("O1", "C1", Timestamp.valueOf("2024-01-05 00:00:00"),
        "DELIVERED", true, 100.00),
      ("O2", "C1", Timestamp.valueOf("2024-02-05 00:00:00"),
        "CONFIRMED", true, 50.00))
      .toDF("order_id", "customer_id", "order_date", "order_status",
        "is_valid_order", "net_revenue")
    val ctx = BuildCtx(spark,
      source = (_, _) => sys.error("dim reads refs only"),
      ref = {
        case "customers_latest" => customers
        case "orders_cleaned" => orders
        case other => sys.error(s"unexpected ref $other")
      },
      existing = None, mode = RunMode.Bootstrap, vars = Map.empty)
    val models = new ReferenceModels(Clock(
      Date.valueOf("2024-04-01"), Timestamp.valueOf("2024-04-01 00:00:00")))
    val dim = models.dimCustomer.build(ctx)
    val plan = dim.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"dim build re-grew an Expand:\n${plan.take(2000)}")
    // sanity: the build still computes (one row, the exact-cents
    // ladders see 150.00 => BRONZE, monetary_score 2)
    val row = dim.collect().head
    assert(row.getAs[String]("customer_tier") == "BRONZE")
    assert(row.getAs[Int]("monetary_score") == 2)
    assert(row.getAs[Long]("lifetime_orders") == 2L)
  }
}
