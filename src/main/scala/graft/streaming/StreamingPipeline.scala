package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.io.ModelStore
import graft.model.{ModelDef, Pipeline, RunMode}

/** Streaming medallion ingestion: run the SAME `ModelDef`s the batch
  * DAG runs, per micro-batch, via `foreachBatch`. Each trigger's data
  * becomes the model's named bronze source; the model's own watermark
  * gate, CDC dedup, and merge strategy then apply unchanged — so a CDC
  * stream lands as the identical silver/gold tables the batch pipeline
  * produces (asserted by StreamingPipelineSpec).
  *
  * Exactly-once: foreachBatch is at-least-once (a crash between the
  * sink write and the checkpoint commit replays the batch). The batch
  * id AND the feeding query's identity are therefore written INSIDE
  * the store's atomic version commit (`ModelStore.write(meta)`): a
  * replayed id from the SAME query is skipped, while a behind-marker
  * id from a DIFFERENT query (reset checkpoint, second writer) fails
  * loudly instead of being silently swallowed as a replay — data and
  * progress marker can never diverge, and data can never be silently
  * lost to a marker written by someone else.
  *
  * This is the §2.9 upgrade path at the WHOLE-MODEL level, one step up
  * from the record-level primitives in [[CdcStream]].
  */
object StreamingPipeline {

  private val BatchKey = "stream_batch_id"
  private val QueryKey = "stream_query_id"

  /** foreachBatch sink materializing `model` from each micro-batch.
    *
    * @param sourceName the one bronze source the micro-batch stands in
    *        for — any other `ctx.source` name is an error rather than
    *        silently receiving the same batch
    * @param refs resolves the model's `ref()` dependencies (e.g. stored
    *        silver tables)
    * @param queryId stable identity of the feeding streaming query —
    *        use the checkpoint location. Batch-id replay detection
    *        only applies within one queryId; ANY foreign queryId
    *        raises (behind-marker or ahead — an ahead writer silently
    *        taking over the table and its marker is the same
    *        split-brain, just detected later). To hand a table to a
    *        new query deliberately (e.g. after deleting a checkpoint),
    *        call [[adopt]] first. */
  def modelSink(store: ModelStore, model: ModelDef, sourceName: String,
      refs: String => DataFrame = n =>
        sys.error(s"unresolved ref('$n') in streaming context"),
      vars: Map[String, String] = Map.empty,
      queryId: String = "default",
      /** append a Delta-protocol log entry per committed batch
        * ([[graft.io.DeltaLogExport]]) — stream-fed tables are where
        * external Delta readers matter most. Opt-in, as for the batch
        * Pipeline. */
      exportDeltaLog: Boolean = false)
      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val storedQuery = store.meta(spark, model.layer, model.name, QueryKey)
    val storedBatch = store.meta(spark, model.layer, model.name, BatchKey)
      .map(_.toLong)
    val sameQuery = storedQuery.forall(_ == queryId)
    if (!sameQuery) {
      val kind =
        if (storedBatch.exists(_ >= batchId)) "behind-marker" else "ahead"
      sys.error(
        s"${model.layer}.${model.name} was last written by streaming " +
          s"query '${storedQuery.get}' at batch " +
          s"${storedBatch.getOrElse(-1L)}; " +
          s"refusing $kind batch $batchId from '$queryId' — a second " +
          "writer must target its own table; to hand this table to a " +
          "new query, call StreamingPipeline.adopt first")
    }
    val replay = storedBatch.exists(_ >= batchId)
    if (!replay) {
      Pipeline.materializeModel(spark, store, model, RunMode.Incremental,
        sources = (_, name) =>
          if (name == sourceName) batch
          else sys.error(
            s"streaming modelSink only provides '$sourceName', " +
              s"model asked for '$name'"),
        ref = refs, vars = vars,
        meta = Map(BatchKey -> batchId.toString, QueryKey -> queryId))
      if (exportDeltaLog)
        graft.io.DeltaLogExport.export(spark, store,
          model.layer, model.name): Unit
    }
  }

  /** Explicit handover of a stream-fed table to a new query identity:
    * re-points the stream markers at `queryId` with the batch counter
    * reset, so the new query's batch 0 is accepted. Deliberate and
    * loud — the alternative (a foreign writer silently adopting the
    * table, [[modelSink]]'s raise) is split-brain. The data itself is
    * untouched; on this store the marker change costs one version
    * rewrite ([[ModelStore.compact]], which keeps the stored partition
    * and zorder layout and re-derives the column stats, so the next
    * batch keeps its pruned merge and its footer-stats watermark; a
    * manifest-based store would make it a metadata-only commit). */
  def adopt(spark: org.apache.spark.sql.SparkSession, store: ModelStore,
      layer: String, name: String, queryId: String): Unit = {
    require(store.currentVersion(spark, layer, name) > 0,
      s"adopt: $layer.$name does not exist")
    store.compact(spark, layer, name,
      extraMeta = Map(QueryKey -> queryId, BatchKey -> "-1"))
  }
}
