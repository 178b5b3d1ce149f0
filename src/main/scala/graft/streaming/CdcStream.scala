package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.io.{MergeWriter, ModelStore}

/** Structured Streaming upgrade path for the reference's batch-CDC
  * semantics (SURVEY.md §2.9):
  *
  *  batch primitive                      → streaming primitive
  *  ───────────────────────────────────────────────────────────────
  *  watermark scan gate (P6)             → `withWatermark` on event time
  *  window dedup rn=1 (W1/W2+P2)         → `mapGroupsWithState` keeping
  *                                         the max-(ts, ingested) record
  *  MERGE upsert on unique_key (S3)      → `foreachBatch` +
  *                                         `MergeWriter.upsert`
  *  late row silently dropped            → same, via the watermark
  *
  * State per key is one record — bounded, partitioned by key, scales
  * with |keys| not |events| (the property that makes this viable on an
  * unbounded 100 TB/day feed).
  */
object CdcStream {

  /** A CDC envelope row with an opaque payload (concrete schemas wrap
    * their columns into `payload` or extend this shape). */
  final case class CdcEvent(
      key: String,
      op: String,
      cdcTimestamp: Timestamp,
      ingestedAt: Timestamp,
      payload: String)

  private def later(a: CdcEvent, b: CdcEvent): CdcEvent = {
    val c = a.cdcTimestamp.compareTo(b.cdcTimestamp)
    if (c > 0) a
    else if (c < 0) b
    else if (a.ingestedAt.compareTo(b.ingestedAt) >= 0) a
    else b
  }

  /** Streaming latest-version-per-key: every trigger emits the current
    * winner for each key that saw data (Update output mode). The
    * reference's `(_cdc_timestamp DESC, _ingested_at DESC)` order is
    * the `later` reduction. */
  def latestPerKey(events: Dataset[CdcEvent], watermarkDelay: String)
      : Dataset[CdcEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("cdcTimestamp", watermarkDelay)
      .groupByKey(_.key)
      // EventTimeTimeout (not NoTimeout): Spark only FILTERS late input
      // rows for mapGroupsWithState under the event-time timeout conf —
      // with NoTimeout the watermark is inert and a too-late row would
      // still win its key, diverging from the batch gate's late-drop.
      .mapGroupsWithState[CdcEvent, CdcEvent](
        GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[CdcEvent], state: GroupState[CdcEvent]) =>
          val best = (state.getOption.iterator ++ it).reduce(later)
          state.update(best)
          best
      }
  }

  /** Exactly-once-per-key dedup within the watermark window — the
    * built-in alternative to [[latestPerKey]] when the feed guarantees
    * at-most-one version per (key, ts) and only duplicate *deliveries*
    * (not versions) must be dropped: state is bounded by the watermark
    * instead of |keys|. */
  def dropDuplicateDeliveries(events: Dataset[CdcEvent],
      watermarkDelay: String): Dataset[CdcEvent] =
    events
      .withWatermark("cdcTimestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark("key", "cdcTimestamp")

  /** Event-time tumbling-window aggregation with a watermark — the
    * streaming form of q16_event_windows (batch `date_trunc` groupBy).
    * Late rows beyond the watermark are dropped, mirroring the batch
    * high-watermark gate's late-row semantics (SURVEY.md §2.9). */
  def windowedCounts(events: Dataset[CdcEvent], windowLen: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark("cdcTimestamp", watermarkDelay)
      .groupBy(
        org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("cdcTimestamp"), windowLen),
        org.apache.spark.sql.functions.col("op"))
      .count()

  /** Event-time SESSION windows with a watermark — the streaming
    * analog of q17's gap-based batch sessionization: a session extends
    * while events arrive within `gap` of the last one and closes once
    * the watermark passes the gap (late rows beyond the watermark are
    * dropped, mirroring the batch late-row semantics). State per open
    * session is one window — bounded by |active keys|, merged by
    * Spark's native session-window aggregation. */
  def sessionCounts(events: Dataset[CdcEvent], gap: String,
      watermarkDelay: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    events
      .withWatermark("cdcTimestamp", watermarkDelay)
      .groupBy(session_window(col("cdcTimestamp"), gap), col("key"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("key"), col("n_events"))
  }

  /** Streaming SCD-1 sink: per micro-batch, upsert the batch's winners
    * into the stored table on `key` and DELETE stored keys whose
    * batch winner is a DELETE (reference `customers_latest.sql:153`
    * exclusion semantics: a key whose latest CDC op is a delete is
    * absent from the model). Applying the delete to STORED state is
    * what makes the result independent of micro-batch boundaries — an
    * INSERT and its DELETE must converge to "key absent" whether they
    * share a trigger or arrive one apart, exactly as the batch q12
    * exclusion over the same full feed would.
    *
    * The batch is reduced to ONE winner per key before the merge
    * (Delta's MERGE raises on multiple matches; an at-least-once feed
    * can legally deliver several versions of a key per trigger — the
    * upsert must apply the latest, not all of them), and the DELETE
    * decision runs on the winner: a key whose newest version is DELETE
    * is removed, never resurrected at an older version. The commit is
    * [[MergeWriter.upsert]] with `deleteWhen = op <=> 'DELETE'`, so a
    * no-data trigger (the watermark moved, no key changed) commits
    * nothing. */
  def scd1Sink(spark: SparkSession, store: ModelStore, layer: String,
      name: String)(batchDs: Dataset[CdcEvent], batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val winners = graft.ops.CdcDedup.latestByKey(batchDs.toDF(),
      Seq("key"), Seq(col("cdcTimestamp").desc, col("ingestedAt").desc))
    // Null-safe: `op = 'DELETE'` is NULL for a NULL op — a malformed
    // envelope whose winner has op=null keeps its latest version. Only
    // a literal DELETE removes the key (<=> on the key side too, so a
    // NULL-key delete removes the stored NULL-key row).
    // checkUniqueKeys=false: latestByKey already guarantees one winner
    // per key, skip the redundant window.
    MergeWriter.upsert(store, store.read(spark, layer, name), winners,
      layer, name, "key", deleteWhen = Some(col("op") <=> "DELETE"),
      checkUniqueKeys = false)
  }
}
