package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{ModelStore, Tables}
import graft.ops.{BloomJoin, BroadcastGate}
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
  * Scale shape (the history side never shuffles):
  *  1. batch-internal first-copy dedup — one shuffle on the
  *     fingerprint, batch-sized;
  *  2. a persisted Bloom sketch of ALL historical fingerprints is
  *     probed scan-locally: definitely-novel fingerprints (the common
  *     case on a mostly-fresh feed) SKIP the history entirely; the
  *     sketch unions incrementally per batch (Bloom OR — fingerprints
  *     are append-only, the one regime where a sketch index never
  *     needs rebuilding);
  *  3. possible-duplicates (true dups + sketch false positives) are
  *     exact-verified: the history table's fingerprint COLUMN is
  *     scanned (column-pruned — ~16 bytes/row of the stored table)
  *     with the candidate set broadcast against it, so history is
  *     never shuffled and never read beyond one column;
  *  4. survivors append as the batch's `ingest_batch` partition
  *     ([[ModelStore.appendBatch]]: every prior batch's directory
  *     links over, O(batch) write cost; an all-duplicate batch
  *     commits nothing).
  *
  * Crash-safety ordering: the sketch merges BEFORE the batch commits.
  * A sketch over-approximating history only costs verify work; an
  * under-approximating one would silently re-admit duplicates. A
  * missing sketch (first batch, or deleted) falls back to verifying
  * every fingerprint — the sketch is an optimization, never a
  * correctness dependency (IncrementalDedupSpec proves the fold with
  * a pathological all-colliding sketch).
  *
  * Contract: batches arrive in keep-priority order (earlier batch
  * wins; within a batch the smallest `orderCol` wins) — one-shot
  * first-copy dedup over the batches in arrival order.
  */
object IncrementalDedup {

  /** Shards of the persisted fingerprint sketch (key-hash-range
    * partitioned [[BloomJoin.buildShardedSketch]] rows). Capacity at
    * 10¹¹ keys grows by raising this at constant per-shard size. The
    * per-fold merge runs DRIVER-side over the collected shard map
    * (those bytes are on the driver regardless — the probe collects
    * them), so driver memory bounds total sketch size; the regime
    * that outgrows it escalates to shard-id co-partitioning with a
    * distributed per-shard OR as the merge. */
  val SketchShards = 8

  /** Sentinel for `estKeys`/`numBits`: size the sketch from the
    * observed key population instead of a fixed worst case. A fixed
    * 1M-key/1MiB sketch charged every fold ~1 MiB of aggregation
    * buffers, task-binary broadcast, and probe literals even on a
    * 500-key history; auto-sizing keeps those costs proportional to
    * the data and GROWS capacity geometrically (rebuild-on-overflow,
    * amortized O(1) rebuilds per doubling). */
  val AutoSize = 0L

  /** Auto-sizing floor: below this the sketch is byte-trivial either
    * way, so start here and avoid rebuild churn on tiny histories. */
  val MinSketchKeys = 1L << 16

  /** [[graft.ops.BroadcastGate]] width of the candidate/existing key
    * sets: one 32-char md5 hex content fingerprint. Under the budget
    * they broadcast (history is hash-probed in place and never
    * shuffles); over it — a TB-scale crawl no single executor could
    * hold — the verify joins fall back to shuffle-hash (one key-shuffle
    * of batch AND the matched slice of history; the unavoidable cost
    * of exact verification at that batch size). */
  val KeyRowBytes: Long = 8L + 8 + 32

  /** Fold one batch into the fingerprint history at `layer`.`name`;
    * returns the kept (first-copy) rows. `batch` must carry `keyCol`
    * (the content fingerprint) and `orderCol` (the within-batch
    * keep-priority, e.g. doc id). */
  def applyBatch(spark: SparkSession, store: ModelStore, layer: String,
      name: String, batch: DataFrame, batchId: Long,
      keyCol: String = "content_fp", orderCol: String = "doc_id",
      estKeys: Long = AutoSize,
      numBits: Long = AutoSize,
      numShards: Int = SketchShards,
      broadcastCap: Long = BroadcastGate.MaxBytes): DataFrame = {
    require(batch.columns.contains(keyCol), s"batch lacks $keyCol")
    // Half-explicit sizing derives the missing twin at the standard
    // 8-bits-per-key ratio: passing only estKeys used to leave
    // numBits at the AutoSize sentinel (0), which the explicit path
    // took literally — an 8-bit-per-SHARD filter with ~100%
    // false-positive rate that silently degraded every fold to
    // full-history verification. All sizing below uses the effective
    // pair.
    val estKeysEff =
      if (estKeys == AutoSize && numBits != AutoSize) numBits / 8
      else estKeys
    val numBitsEff =
      if (numBits == AutoSize && estKeys != AutoSize) 8 * estKeys
      else numBits
    val sketchTable = s"${name}_sketch"

    // 1. batch-internal first copy per fingerprint (one batch shuffle)
    val w = Window.partitionBy(keyCol).orderBy(col(orderCol))
    val winners = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .persist()
    // set iff the kept (anti-join) frame gets its own cache below;
    // released in the finally so a failed fold can't leak the block
    var keptCache: Option[DataFrame] = None
    try {
      // materializes the cache and gates the join arms below
      val nWinners = winners.count()
      // key sets are one row per fingerprint: uniform build sides
      val gate = BroadcastGate(nWinners, KeyRowBytes, broadcastCap,
        uniform = true)
      val history = store.read(spark, layer, name)
      // the sharded sketch table is read ONCE per fold: its shard map
      // is collected (sketch-sized — the sanctioned bounded scalar)
      // and serves BOTH the scan-local probe and the driver-side merge
      val storedSketch = store.read(spark, layer, sketchTable)
      def metaLong(k: String): Option[Long] =
        store.meta(spark, layer, sketchTable, k).flatMap(_.toLongOption)
      // A stored shard count differing from the configured one is
      // treated as missing (verify everything + rebuild): probing with
      // the wrong modulus would UNDER-approximate, silently
      // re-admitting duplicates.
      val layoutOk = metaLong("num_shards").map(_.toInt)
        .contains(numShards)
      val storedEst = metaLong("est_keys")
      val storedBits = metaLong("num_bits")
      val storedKeys = metaLong("n_keys").getOrElse(0L)
      val shardMap: Option[Map[Int, Array[Byte]]] =
        storedSketch.filter(_ => layoutOk).map(_.collect()
          .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap)
      val kept = history match {
        case None => winners // empty history: everything is novel
        case Some(hist) =>
          // 2. scan-local sketch probe: novel fps skip the history. A
          // shard with no sketch row holds no historical key — its
          // fingerprints are definitely novel.
          val candidates = shardMap match {
            case Some(m) => winners.filter(BloomJoin
              .mightContainSharded(m, col(keyCol), numShards))
            case None => winners // no sketch: verify everything
          }
          // 3. exact verify — candidate fps against the column-pruned
          // history scan: broadcast under the gate (history hash-probed
          // in place, never shuffled), shuffle-hash above it
          val existing = hist.select(keyCol)
            .join(gate(candidates.select(keyCol)), Seq(keyCol),
              "left_semi")
          winners.join(gate(existing), Seq(keyCol), "left_anti")
      }
      // Exact kept-key count for sketch capacity accounting: persist
      // the anti-join output and count it BEFORE the sketch commit (the
      // data write below reuses the cache, so the history column is
      // still scanned exactly once per fold). Counting nWinners instead
      // over-counted cross-batch duplicates — never an under-sized
      // filter, but a mostly-duplicate workload would trigger geometric
      // rebuilds over the full history far earlier than the true key
      // population warrants. Empty history keeps the winners cache.
      if (history.isDefined) keptCache = Some(kept.persist())
      val nKept = if (keptCache.isDefined) kept.count() else nWinners
      // ---- sketch maintenance, sized to the key population. Explicit
      // estKeys/numBits pin the parameters exactly (spec paths, and
      // deployments that know their key budget up front); under
      // AutoSize capacity derives from the folded key count and grows
      // geometrically — overflow triggers a rebuild over all history
      // (amortized O(1) per capacity doubling), and a parameter or
      // layout change NEVER merges into a mismatched stored sketch.
      // storedKeys + nKept is the exact population when every prior
      // fold took the merge path; the rebuild path's histN + nKept
      // re-grounds it from the real history count. Sketch first
      // (over-approximation is safe), then the data commit.
      val explicit = estKeysEff != AutoSize || numBitsEff != AutoSize
      val totalKeys = storedKeys + nKept
      // Merge compatibility is decided on the POST-clamp per-shard
      // parameters, not the requested totals: buildShardedSketch
      // silently clamps to the session's runtime-bloomFilter conf
      // limits, so the same request under a changed conf yields
      // filters mergeInPlace would reject. The stored ps_* meta pins
      // what was ACTUALLY built; absence (a pre-upgrade store) or any
      // mismatch routes to the rebuild arm — over-approximation-safe,
      // never a throwing merge.
      def psMatch(e: Long, b: Long): Boolean = {
        val (pk, pb) = BloomJoin.perShardParams(winners, numShards, e, b)
        metaLong("ps_keys").contains(pk) && metaLong("ps_bits").contains(pb)
      }
      val mergeOk = layoutOk && shardMap.isDefined &&
        (if (explicit) storedEst.contains(estKeysEff) &&
          storedBits.contains(numBitsEff) && psMatch(estKeysEff, numBitsEff)
         else storedEst.exists(_ >= totalKeys) && storedBits.nonEmpty &&
          psMatch(storedEst.get, storedBits.get))
      def commitSketch(df: DataFrame, e: Long, b: Long,
          n: Long): Unit = {
        val (pk, pb) = BloomJoin.perShardParams(winners, numShards, e, b)
        store.write(df, layer, sketchTable, meta = Map(
          "num_shards" -> numShards.toString,
          "est_keys" -> e.toString, "num_bits" -> b.toString,
          "ps_keys" -> pk.toString, "ps_bits" -> pb.toString,
          "n_keys" -> n.toString))
      }
      // nothing kept: every winner is already in history, so the OR
      // below would leave every bit and n_keys as stored — no sketch
      // job, no commit (the rebuild arm always runs: its sketch is new)
      if (mergeOk && nKept == 0) ()
      else if (mergeOk) {
          // parameters match the stored layout: build the batch shard
          // rows (one aggregation over the batch) and OR them into the
          // ALREADY-COLLECTED shard map on the driver — the merge
          // moves sketch-sized bytes that are on the driver regardless
          // (the probe collect), so it costs no extra distributed
          // stage. The regime where this collect is too big is exactly
          // the one where the probe would be too — both escalate by
          // co-partitioning on the shard id ([[BloomJoin]] notes), with
          // a distributed per-shard OR as the merge for that path.
          val (e, b) = (storedEst.get, storedBits.get)
          val batchRows = BloomJoin.buildShardedSketch(winners,
            col(keyCol), numShards, e, b).collect()
            .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1))
          val mergedMap = batchRows.foldLeft(shardMap.get) {
            case (acc, (id, bytes)) => acc.updated(id,
              acc.get(id).map(BloomJoin.orSketchBytes(_, bytes))
                .getOrElse(bytes))
          }
          import spark.implicits._
          commitSketch(mergedMap.toSeq.toDF("shard", "sketch")
            .coalesce(1), storedEst.get, storedBits.get, totalKeys)
        } else {
          // first batch, a capacity overflow, or a shard/parameter
          // change: rebuild over ALL history keys + batch so the
          // sketch never under-approximates. History is counted here
          // (rebuild-only, a column-pruned metadata count) so a
          // missing-meta store still sizes to its real population.
          val histKeys = history.map(_.select(col(keyCol)))
          val histN = histKeys.map(_.count()).getOrElse(0L)
          val n = histN + nKept
          val (e, b) =
            if (explicit) (estKeysEff, numBitsEff)
            else {
              var cap = MinSketchKeys
              while (cap < 4L * n) cap <<= 1
              (cap, 8L * cap)
            }
          val rebuilt = histKeys match {
            case Some(hk) => BloomJoin.buildShardedSketch(
              hk.unionByName(winners.select(col(keyCol))),
              col(keyCol), numShards, e, b)
            case None => BloomJoin.buildShardedSketch(winners,
              col(keyCol), numShards, e, b)
          }
          commitSketch(rebuilt, e, b, n)
        }
      // 4. append as the batch's partition (ModelStore.appendBatch)
      store.appendBatch(kept, layer, name, "ingest_batch", batchId)
    } finally {
      keptCache.foreach(_.unpersist())
      winners.unpersist(): Unit
    }
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
