package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.Q

/** SCD-Type-2 history builder — the dbt `snapshot` analog (the
  * reference ships an empty `snapshots/` dir; its platform's snapshot
  * materialization is the timestamp-strategy SCD2 this implements).
  * Where [[CdcDedup]] keeps only the latest version per key (SCD1,
  * `customers_latest.sql` semantics), this keeps EVERY version as a
  * validity interval:
  *
  *   valid_from = the change's own timestamp
  *   valid_to   = the NEXT change's timestamp for the key (NULL while
  *                current) — `lead()` over the per-key change order
  *   DELETE ops close the predecessor's interval but emit no row
  *                (dbt's `invalidate_hard_deletes`)
  *
  * Scale shape: one shuffle on the key, one window pass — identical
  * cost to the SCD1 dedup; the history table is then range-joinable
  * point-in-time via [[AsOfJoin]]. The full-history output is what
  * makes training-data reproducibility audits possible ("which dim
  * version did the 2024-03 run see?").
  */
object Scd2 {

  /** Per-key validity intervals from a change feed. `orderCols` must
    * be a total order within key (tie-breaker included). */
  def snapshot(changes: DataFrame, key: String, ts: Column,
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(orderCols: _*)
    changes
      .withColumn("valid_from", ts)
      .withColumn("valid_to", lead(ts, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  val qScd2Snapshot: Q = Q(
    "q72_scd2_snapshot",
    // no time, no version; no key, no entity: a NULL-ts change cannot
    // place an interval boundary (and sorts at OPPOSITE ends of the
    // two engines' orderings), and NULL-key changes would fuse
    // unrelated keyless rows into one versioned entity — both are
    // excluded, the adversarial-gate convention used by every ordered
    // window here
    """WITH cdc AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_type = 'signup' THEN 'INSERT'
      |         WHEN event_type = 'error' THEN 'DELETE'
      |         ELSE 'UPDATE' END AS cdc_op,
      |    event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |h AS (
      |  SELECT user_id, event_id, cdc_op, event_type, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS valid_to
      |  FROM cdc)
      |SELECT user_id, event_id, event_type, valid_from, valid_to,
      |  (valid_to IS NULL) AS is_current
      |FROM h WHERE cdc_op <> 'DELETE'
      |ORDER BY user_id, valid_from, event_id""".stripMargin) { (s, d) =>
    val cdc = Tables.load(s, d, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .withColumn("cdc_op",
        when(col("event_type") === "signup", "INSERT")
          .when(col("event_type") === "error", "DELETE")
          .otherwise("UPDATE"))
    snapshot(cdc, "user_id", col("ts"),
        Seq(col("ts").asc, col("event_id").asc))
      .filter(col("cdc_op") =!= "DELETE")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }
}
