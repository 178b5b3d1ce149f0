package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{ModelStore, Tables}
import graft.ops.BroadcastGate
import graft.queries.Q

/** Incremental exact dedup against ALL of history: each arriving corpus
  * batch (a crawl, a dump, a day of ingestion) keeps only documents
  * whose content fingerprint has never been seen in ANY prior batch,
  * and the fingerprint history persists in a versioned [[ModelStore]]
  * table.
  *
  * This is the aggregation analog of [[graft.model.IncrementalAgg]]
  * applied to dedup: one-shot q19 re-scans the whole corpus per run;
  * here each run costs O(batch) + one column-pruned history probe —
  * the difference between re-deduping a year of crawls and deduping a
  * day against a fingerprint index.
  *
  * Scale shape (the history side never shuffles under the gate):
  *  1. batch-internal first-copy dedup — one shuffle on the
  *     fingerprint, batch-sized, cached and counted (the count sizes
  *     the [[BroadcastGate]] of the joins below);
  *  2. exact verify: the history table's fingerprint COLUMN is scanned
  *     (column-pruned — ~16 bytes/row of the stored table) and
  *     hash-probed in place against the broadcast batch keys; the
  *     matches are anti-joined out of the batch winners;
  *  3. survivors append as the batch's `ingest_batch` partition
  *     ([[ModelStore.appendBatch]]: every prior batch's directory
  *     links over, O(batch) write cost; an all-duplicate batch
  *     commits nothing). The verify runs inside this write.
  *
  * A fold is three Spark actions: the winners count, the append write
  * and the read-back checkpoint. A Bloom side-table of history keys
  * could skip step 2's scan only on a fold with no true duplicate and
  * no false positive, and cost a collect, a build and a commit on
  * every fold, so the fold keeps none.
  *
  * Contract: batches arrive in keep-priority order (earlier batch
  * wins; within a batch the smallest [[OrderCol]] wins) — one-shot
  * first-copy dedup over the batches in arrival order.
  */
object IncrementalDedup {

  /** [[graft.ops.BroadcastGate]] width of the batch and existing key
    * sets: one 32-char md5 hex content fingerprint. Under the budget
    * they broadcast (history is hash-probed in place and never
    * shuffles); over it — a TB-scale crawl no single executor could
    * hold — the verify joins fall back to shuffle-hash (one key-shuffle
    * of batch AND the matched slice of history; the unavoidable cost
    * of exact verification at that batch size). */
  val KeyRowBytes: Long = 8L + 8 + 32

  /** A batch's content fingerprint column (the history's key), and its
    * within-batch keep-priority column. */
  val KeyCol = "content_fp"
  val OrderCol = "doc_id"

  /** Fold one batch into the fingerprint history at `layer`.`name`;
    * returns the kept (first-copy) rows. `batch` must carry [[KeyCol]]
    * and [[OrderCol]]. */
  def applyBatch(spark: SparkSession, store: ModelStore, layer: String,
      name: String, batch: DataFrame, batchId: Long,
      broadcastCap: Long = BroadcastGate.MaxBytes): DataFrame = {
    require(batch.columns.contains(KeyCol), s"batch lacks $KeyCol")

    // 1. batch-internal first copy per fingerprint (one batch shuffle)
    val w = Window.partitionBy(KeyCol).orderBy(col(OrderCol))
    val winners = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .persist()
    try {
      // materializes the cache and gates the join arms below
      val nWinners = winners.count()
      // key sets are one row per fingerprint: uniform build sides
      val gate = BroadcastGate(nWinners, KeyRowBytes, broadcastCap,
        uniform = true)
      val kept = store.read(spark, layer, name) match {
        case None => winners // empty history: everything is novel
        case Some(hist) =>
          // 2. exact verify — batch fps against the column-pruned
          // history scan: broadcast under the gate (history hash-probed
          // in place, never shuffled), shuffle-hash above it
          val existing = hist.select(KeyCol)
            .join(gate(winners.select(KeyCol)), Seq(KeyCol), "left_semi")
          winners.join(gate(existing), Seq(KeyCol), "left_anti")
      }
      // 3. append as the batch's partition (ModelStore.appendBatch)
      store.appendBatch(kept, layer, name, "ingest_batch", batchId)
    } finally winners.unpersist(): Unit
    // read back from the committed version: the returned plan must not
    // re-probe history (a lazy re-evaluation after the commit would see
    // its own batch and return empty). localCheckpoint (eager)
    // materializes it so the frame no longer references the version
    // path a LATER fold's commit drops (ModelStore.RetainVersions) — a
    // caller holding fold N's result across fold N+2 would otherwise hit
    // FileNotFoundException (the NearDupIndex decide-checkpoint
    // discipline; the batch-sized payload is bounded). No table yet
    // means no batch has kept a row: the fold's answer is empty.
    store.read(spark, layer, name)
      .getOrElse(batch.withColumn("ingest_batch", lit(batchId)).limit(0))
      .filter(col("ingest_batch") === batchId)
      // partition-dir column inference narrows small ids to int —
      // pin the declared type
      .withColumn("ingest_batch", col("ingest_batch").cast("long"))
      .localCheckpoint()
  }

  // ------------------------------------------- driver-checkable query
  // Documents arrive as two doc_id-range batches (the driver-side
  // loop is batch-arrival orchestration, as in q58; the spec proves
  // longer chains); the surviving corpus must equal the one-shot
  // first-copy dedup over everything — exactly what the oracle
  // computes, with each survivor tagged by the batch introducing it.
  val qIncrementalDedup: Q = Q(
    "q86_incremental_dedup",
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      |fp AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |      AS content_fp,
      |    CASE WHEN doc_id <= m // 2 THEN 0 ELSE 1 END AS bid
      |  FROM documents CROSS JOIN mx),
      |keep AS (SELECT content_fp, min(doc_id) AS doc_id FROM fp
      |  GROUP BY 1)
      |SELECT f.doc_id, f.content_fp, CAST(f.bid AS BIGINT) AS batch_id
      |FROM fp f JOIN keep k
      |  ON f.content_fp = k.content_fp AND f.doc_id = k.doc_id
      |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
    val store = new ModelStore(
      graft.pipeline.PipelineQuery.tempStoreDir())
    val docs = Tables.load(s, d, "documents")
      .select(col("doc_id"),
        TextOps.contentHash(col("text")).as("content_fp"))
    // sanctioned scalar (as q58's year list): the batch boundary
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val b1 = maxId / 2
    val bounds = Seq(col("doc_id") <= b1, col("doc_id") > b1)
    bounds.zipWithIndex.foreach { case (pred, i) =>
      applyBatch(s, store, "dedup", "doc_fps", docs.filter(pred),
        i.toLong): Unit
    }
    store.read(s, "dedup", "doc_fps").get
      .select(col("doc_id"), col("content_fp"),
        col("ingest_batch").cast("long").as("batch_id"))
      .orderBy("doc_id")
  }.copy(sideEffecting = true)
}
