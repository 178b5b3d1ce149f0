package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-version-per-key dedup — the reference's core CDC primitive
  * (reference `models/silver/customers/customers_latest.sql:33–38` /
  * `orders_cleaned.sql:47–50`: `ROW_NUMBER() OVER (PARTITION BY key ORDER
  * BY _cdc_timestamp DESC, _ingested_at DESC)` then `WHERE rn = 1`).
  *
  * Scale notes: one shuffle on the key; Spark plans it as a single
  * `WindowExec` after a hash exchange, and AQE handles skewed keys. At
  * 100 TB the partition count must track input size — callers control
  * `spark.sql.shuffle.partitions` / AQE; nothing here collects to the
  * driver. Callers MUST pass a total order (tie-breaker included) or the
  * winner is nondeterministic.
  */
object CdcDedup {

  /** Keep exactly the first row per key under `orderCols` (descending
    * timestamp + tie-breaker by convention). */
  def latestByKey(df: DataFrame, keys: Seq[String], orderCols: Seq[Column])
      : DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
