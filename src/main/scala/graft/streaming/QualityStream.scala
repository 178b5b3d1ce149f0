package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.ModelStore

/** Streaming data-quality gate with quarantine — the row-level
  * counterpart of the batch [[graft.quality.Validate]] report tier
  * (which counts violations after the fact; a stream must ROUTE each
  * row as it arrives), and the semantic-level sibling of the bronze
  * readers' corrupt-record quarantine (those catch rows that don't
  * parse; this catches rows that parse but violate the contract).
  *
  * Rules are named row-level predicates evaluated scan-locally —
  * the gate itself is stateless, so it composes with any upstream
  * watermark/dedup state. Each micro-batch splits once: passing rows
  * append to the target table, failing rows append to
  * `<name>_quarantine` with the batch id and the list of violated
  * rules (the triage columns). Both sinks go through the versioned
  * [[ModelStore]] with retention, so a long-running stream cannot
  * grow version history unboundedly.
  */
object QualityStream {

  /** A named row-level contract: `holds` must be true for the row to
    * pass (NULL evaluates as a failure — contracts are strict). */
  final case class RowRule(name: String, holds: Column)

  /** Annotate rows with the violated-rule list and a validity flag —
    * pure scan-local expressions, usable on batch or stream. */
  def annotate(df: DataFrame, rules: Seq[RowRule]): DataFrame =
    df.withColumn("failed_rules",
        array_compact(array(rules.map(r =>
          when(!coalesce(r.holds, lit(false)), lit(r.name))): _*)))
      .withColumn("is_valid", size(col("failed_rules")) === 0)

  /** foreachBatch sink: route each micro-batch through the rules into
    * the target table or its quarantine side table, each appended as
    * the batch's `stream_batch_id` partition ([[ModelStore.appendBatch]]);
    * the batch id is also the provenance/triage column. */
  def gatedSink(store: ModelStore, layer: String, name: String,
      rules: Seq[RowRule])(batch: DataFrame, batchId: Long): Unit = {
    // persist: the annotated batch feeds both routes; micro-batches
    // are arrival-rate-sized, not corpus-sized
    val annotated = annotate(batch, rules).persist()
    try {
      store.appendBatch(annotated.filter(col("is_valid"))
          .drop("failed_rules", "is_valid"),
        layer, name, "stream_batch_id", batchId)
      store.appendBatch(annotated.filter(!col("is_valid"))
          .drop("is_valid"),
        layer, s"${name}_quarantine", "stream_batch_id", batchId)
    } finally { annotated.unpersist(); () }
  }
}
