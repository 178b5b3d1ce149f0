package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /** Append one micro-batch as a NEW `stream_batch_id` partition:
    * `writeTouchedPartitions` writes only that partition's files and
    * hard-links every earlier batch's directory into the new version —
    * O(batch) write cost per micro-batch instead of the O(batches ×
    * table) a full-table re-union would pay, while version dirs stay
    * self-contained (time travel, vacuum, concurrent readers). The
    * batch id is also the natural provenance/triage column. */
  private def appendBatchPartition(spark: SparkSession,
      store: ModelStore, layer: String, name: String,
      rows: DataFrame): Unit = {
    if (!rows.isEmpty) {
      // The linked append is only sound against a table already laid
      // out as stream_batch_id= partitions with the same columns
      // (ModelStore.hasPartitionLayout's contract) — against a
      // pre-existing unpartitioned or schema-drifted table it would
      // carry nothing over and a later commit's retention would drop
      // the original data permanently. Those cases fall back to one full
      // rewrite (union, null-backfilled columns), which also migrates
      // the table to the partitioned layout so later batches take the
      // O(batch) path.
      // The batch-id partition column is excluded from the schema
      // comparison: its type round-trips lossily through directory-
      // name inference (written long, read back int), and comparing
      // it would push every batch onto the full-rewrite path.
      def sig(df: DataFrame) = df.schema.fields
        .filter(_.name != "stream_batch_id")
        .map(f => f.name -> f.dataType).toSet
      val compatible = store.currentVersion(spark, layer, name) == 0 ||
        (store.hasPartitionLayout(spark, layer, name,
          Seq("stream_batch_id")) &&
          store.read(spark, layer, name).exists(ex => sig(ex) == sig(rows)))
      if (compatible)
        store.writeTouchedPartitions(rows, layer, name,
          partitionBy = Seq("stream_batch_id"))
      else {
        val ex = store.read(spark, layer, name).get
        store.write(ex.unionByName(rows, allowMissingColumns = true),
          layer, name, partitionBy = Seq("stream_batch_id"))
      }
    }
  }

  /** foreachBatch sink: route each micro-batch through the rules into
    * the target table or its quarantine side table. */
  def gatedSink(store: ModelStore, layer: String, name: String,
      rules: Seq[RowRule])(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // persist: the annotated batch feeds both routes; micro-batches
    // are arrival-rate-sized, not corpus-sized
    val annotated = annotate(batch, rules)
      .withColumn("stream_batch_id", lit(batchId)).persist()
    try {
      appendBatchPartition(spark, store, layer, name,
        annotated.filter(col("is_valid"))
          .drop("failed_rules", "is_valid"))
      appendBatchPartition(spark, store, layer, s"${name}_quarantine",
        annotated.filter(!col("is_valid"))
          .drop("is_valid"))
    } finally { annotated.unpersist(); () }
  }
}
