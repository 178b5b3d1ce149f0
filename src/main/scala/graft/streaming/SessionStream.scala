package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ModelStore
import graft.ops.Exact

/** Streaming sessionization sink — the continuous upgrade of
  * q17_sessionize (gap-based batch sessionization over `events`).
  *
  *  batch primitive                       → streaming primitive
  *  ──────────────────────────────────────────────────────────────
  *  lag-window gap > 30 min ⇒ new session → native `session_window`
  *                                          merge (state = one open
  *                                          window per active user)
  *  final GROUP BY user rollup            → [[userRollup]] over the
  *                                          persisted session table
  *  late rows (none in batch — full scan) → dropped past the watermark
  *
  * Closed sessions land in a [[ModelStore]] table as `batch_id`
  * partitions ([[ModelStore.appendBatch]]), so the table is
  * query-ready mid-stream and the rollup never replays the raw feed.
  *
  * Boundary parity with the batch rule: q17 starts a new session only
  * when the gap is STRICTLY greater than 30 min (`> 1800000000 µs`),
  * while `session_window` merges an event iff it lands strictly inside
  * `[last, last + gap)` — so the window gap is `gapMicros + 1 µs`,
  * making "exactly 30 minutes apart" merge on both paths.
  */
object SessionStream {

  val DefaultGapMicros: Long = 1800000000L // 30 minutes, q17's constant

  /** Closed gap-sessions per user. Append output mode: one row per
    * session, emitted only once the watermark passes its close — a
    * session can never retract, so downstream appends are final. */
  def closedSessions(events: DataFrame, gapMicros: Long = DefaultGapMicros,
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"${gapMicros + 1} microseconds"))
      .agg(count(lit(1)).as("n_events"),
        sum(Exact.cents(col("value"))).as("value_cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_cents"))

  /** foreachBatch sink for [[closedSessions]]: append the batch's newly
    * closed sessions as its `batch_id` partition
    * ([[ModelStore.appendBatch]]). */
  def sessionSink(spark: SparkSession, store: ModelStore, layer: String,
      name: String)(batch: DataFrame, batchId: Long): Unit =
    store.appendBatch(batch, layer, name, "batch_id", batchId)

  /** q17's output shape from the persisted closed-session table:
    * (user_id, n_sessions, n_events, total_value) — once the stream
    * drains, equal to the batch query's answer (SessionStreamSpec). */
  def userRollup(sessions: DataFrame): DataFrame =
    sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        Exact.dec2(sum("value_cents")).as("total_value"))
      .orderBy("user_id")
}
