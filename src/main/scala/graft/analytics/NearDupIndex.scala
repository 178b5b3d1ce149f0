package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{ModelStore, Tables}
import graft.ops.BroadcastGate
import graft.queries.Q

/** Persisted MinHash-LSH signature index: incremental NEAR-dup against
  * ALL prior crawls — the fuzzy companion of [[IncrementalDedup]]
  * (exact fingerprints). Each arriving crawl is checked against every
  * crawl ever ingested without recomputing historical signatures:
  * the index stores each surviving document's minhash signature in a
  * versioned [[ModelStore]] table (band rows are derived at probe
  * time).
  *
  * Scale shape (history never recomputes signatures, and never
  * shuffles while the batch is under the broadcast bounds):
  *  1. batch signatures — one shuffle on the doc id (the codegen'd
  *     explode→min-agg form of q25);
  *  2. history probe — ONE column-pruned scan of the stored signature
  *     table per ingest: each stored row derives its band hashes
  *     scan-locally (8 xxhash64 per row, codegen'd — cheaper than
  *     persisting and re-shuffling a band table), hash-probes the
  *     BROADCAST batch band rows, looks up the matched doc's BROADCAST
  *     signature and verifies the pair (step 4) in that same stage;
  *     only `(doc_id, old_id, ok)` rows leave it. History-side work is
  *     a scan, never an exchange (the [[IncrementalDedup]] "history
  *     never shuffles" discipline) only below the
  *     [[graft.ops.BroadcastGate]] byte budget: the batch's band rows
  *     ([[IdRowBytes]] wide) and its signatures ([[SigRowBytes]]
  *     wide). Above it the probe is a shuffle-hash join and AQE
  *     chooses the signature lookup; the history side may then be
  *     exchanged;
  *  3. per-doc candidate cap (window row_number over the distinct
  *     candidate pairs, smallest historical id first — deterministic)
  *     bounds which verified pairs count on degenerate buckets, the
  *     [[NearDup.MaxBucket]] discipline with the same documented
  *     recall caveat;
  *  4. verification is signature agreement
  *     (`est ≥ [[SigAgreeThreshold]]`) — a zip_with over the stored
  *     signature the scan carries and the batch signature it looked
  *     up, no text re-read;
  *  5. within-batch pairs cluster via [[NearDup.clusterPairs]]
  *     (batch-sized fixpoint); a cluster with ANY member matching
  *     history anchors the WHOLE cluster to that historical doc
  *     (near-dup corpus semantics are transitive-by-cluster, exactly
  *     as [[NearDup.dedupCorpus]] resolves batch-internal groups);
  *  6. survivors append their signatures as the batch's
  *     `ingest_batch` partition ([[ModelStore.appendBatch]]: hard-link
  *     carry-over for prior batches, O(batch) commit).
  *
  * Keep-priority contract matches [[IncrementalDedup]]: earlier
  * crawls win; within a batch the smallest doc id wins.
  */
object NearDupIndex {

  import NearDup.{NumBands, NumHashes}

  /** Signature-agreement fraction that declares a verified near-dup
    * (q25's estimator over the same 32-hash signatures). */
  val SigAgreeThreshold = 0.5

  /** Per-document cap on historical candidates entering verification
    * (smallest historical id first). Pairs beyond the cap are missed —
    * the same bounded-candidates trade [[NearDup.MaxBucket]] makes. */
  val MaxCandidatesPerDoc = 256

  /** Version stamp of the signature family persisted in the index.
    * The minhash definition changed once already (per-k string hash →
    * two-level `xxhash64(k, xxhash64(shingle))`): signatures from
    * different families NEVER collide in bands or agree positionally,
    * so probing pre-upgrade history would silently classify every
    * re-crawl as novel — permanent corpus duplication with no error.
    * The stamp makes that failure LOUD instead: the stored meta pins
    * the layout, and a probe of any other family fails. */
  val SigFamily: String =
    s"minhash2-k${NearDup.NumHashes}-b${NearDup.NumBands}"

  /** [[graft.ops.BroadcastGate]] row widths: id-only sides carry at
    * most three id/hash fields (the band row: band_idx, band_hash,
    * doc_id); sig-carrying sides (a batch signature row: doc_id and
    * sig, or its renames) are budgeted at the same three fields plus
    * the NumHashes-long sig. */
  val IdRowBytes: Long = 8L * 3 + 8
  val SigRowBytes: Long = 8L * 3 + 8 + (8 + 8L * NumHashes)

  // Signature, band, and agreement definitions live in NearDup (the
  // withSimhash one-definition convention): this index PERSISTS
  // signatures, so any drift between the in-memory q25 expressions
  // and the stored ones would make history unmatchable — sharing the
  // definition makes that impossible.
  import NearDup.{minhashBandRows => bandRows,
    minhashSigs => signatures, sigAgreement => sigAgree}

  /** Fold one crawl batch into the index at `layer`.`name`; returns
    * the batch's dedup decisions `(doc_id, is_dup, dup_of, batch_id)`
    * — `dup_of` is the kept historical/batch doc the duplicate
    * collapses onto (NULL for survivors). Survivors' signatures
    * append to the index. `id` keys `docs`: one decision, and one
    * signature, per doc. */
  def ingest(spark: SparkSession, store: ModelStore, layer: String,
      name: String, docs: DataFrame, id: String, text: Column,
      batchId: Long, broadcastCap: Long = BroadcastGate.MaxBytes)
      : DataFrame = {
    val sigs = signatures(docs, id, text)
      .withColumnRenamed(id, "doc_id").persist()
    try {
      ingestWithSigs(spark, store, layer, name, docs, id, sigs,
        batchId, broadcastCap)
    } finally sigs.unpersist(): Unit
  }

  // Phase timings to stderr + job labeling (graft.ops.PhaseTimer —
  // the one shared stopwatch convention with Pipeline's
  // [pipeline-io] lines).
  private def timed[T](spark: SparkSession, phase: String)(
      body: => T): T =
    graft.ops.PhaseTimer.timed(spark, s"[ndindex] $phase",
      s"ndindex $phase")(body)

  private def ingestWithSigs(spark: SparkSession, store: ModelStore,
      layer: String, name: String, docs: DataFrame, id: String,
      sigs: DataFrame, batchId: Long, broadcastCap: Long): DataFrame = {
    val bands = bandRows(sigs, "doc_id")
    // materializes the sigs cache; the signed-doc count bounds every
    // gated side below
    val nSigs = timed(spark, "sig-count")(sigs.count())
    // Three gates, by what bounds the gated side:
    //  - gateProbe: the band rows, exactly NumBands per doc (uniform);
    //  - gate / gateSig: signed-doc-bounded sides (≤ one row per
    //    signed doc), id-only (labels, anchors, histMin, dups) or
    //    carrying a sig (the history probe's and the sa/sb lookups).
    val gateProbe = BroadcastGate(nSigs * NumBands, IdRowBytes,
      broadcastCap, uniform = true)
    val gate = BroadcastGate(nSigs, IdRowBytes, broadcastCap)
    val gateSig = BroadcastGate(nSigs, SigRowBytes, broadcastCap)

    // ---- history probe: one column-pruned scan of the stored sigs.
    // Each stored row derives its band hashes, probes the batch band
    // rows and verifies against the matched doc's sig in the scan's
    // own stage (batch sides broadcast under the gates, so the history
    // is hash-probed in place, never exchanged; shuffle-hash above)
    val histPairs = store.read(spark, layer, s"${name}_sigs").map { hist =>
      val fam = store.meta(spark, layer, s"${name}_sigs", "sig_family")
      require(fam.contains(SigFamily),
        s"near-dup index '$layer.${name}_sigs' holds signatures of " +
          s"family ${fam.getOrElse("<unstamped>")} but this engine " +
          s"computes $SigFamily; cross-family probing would silently " +
          "miss every historical match — rebuild the index from text")
      bandRows(hist.select(col("doc_id").as("old_id"), col("sig")),
          "old_id", col("sig").as("old_sig"))
        .join(gateProbe(bands.select(col("band_idx"), col("band_hash"),
            col("doc_id"))),
          Seq("band_idx", "band_hash"))
        .join(gateSig(sigs), Seq("doc_id"))
        .select(col("doc_id"), col("old_id"),
          (sigAgree(col("sig"), col("old_sig")) >= SigAgreeThreshold)
            .as("ok"))
        // the one exchange: doc_id clusters the pair aggregate, the
        // per-doc window and the minimum alike
        .repartition(col("doc_id"))
        // one row per candidate pair: it agrees if any stored row of
        // old_id does (an id stored twice, e.g. by a replayed batch)
        .groupBy("doc_id", "old_id").agg(max("ok").as("ok"))
        // deterministic per-doc cap over the candidates, verified or
        // not: smallest historical ids first
        .withColumn("__rn", row_number().over(
          Window.partitionBy("doc_id").orderBy("old_id")))
        .filter(col("__rn") <= MaxCandidatesPerDoc).filter(col("ok"))
        .groupBy("doc_id").agg(min("old_id").as("h_dup"))
    }

    // ---- within-batch pairs → clusters (batch-sized fixpoint)
    val a = bands.as("a")
    val b = bands.as("b")
    val batchPairs = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      // sig attachment under the gate too (batch-bounded by
      // definition): two broadcast lookups instead of two exchanges
      // of the pair set
      .join(gateSig(sigs.select(col("doc_id").as("a_id"),
        col("sig").as("sa"))), Seq("a_id"))
      .join(gateSig(sigs.select(col("doc_id").as("b_id"),
        col("sig").as("sb"))), Seq("b_id"))
      .filter(sigAgree(col("sa"), col("sb")) >= SigAgreeThreshold)
      .select("a_id", "b_id")
    val labels = timed(spark, "batch-cluster")(
      NearDup.clusterPairs(batchPairs)) // (doc_id, keep_id)

    // a cluster is anchored to history if ANY member matched it; the
    // anchor (smallest historical dup) then claims the whole cluster.
    // histMin is persisted: it is candidate-sized (≤ batch rows) and
    // appears TWICE in decided's plan (anchors + the direct join), so
    // the decision checkpoint computes it, and scans the history, once.
    val histMin = histPairs.getOrElse(
      sigs.select(col("doc_id"), lit(null).cast("long").as("h_dup"))
        .limit(0)).persist()
    val anchors = labels.join(gate(histMin), Seq("doc_id"), "left")
      .groupBy("keep_id").agg(min("h_dup").as("cluster_h"))

    // Decisions cover EVERY input doc — a doc too short to shingle has
    // no signature (it can never near-dup) but must still survive into
    // the batch's output rather than silently vanish. The cluster
    // anchor outranks a doc's OWN history match (cluster_h is the min
    // over all members, ≤ any individual h_dup): the WHOLE cluster
    // collapses onto one historical keeper, never onto per-member
    // targets. localCheckpoint (eager) materializes the decisions so
    // the returned frame no longer references the pre-commit store
    // version a later ingest's commit drops
    // (ModelStore.RetainVersions).
    // all three lookup sides are batch-bounded (labels ≤ paired docs,
    // anchors ≤ clusters, histMin ≤ candidates) — broadcast them under
    // the gate so the decision pass is three hash lookups over one
    // scan of the batch ids instead of a four-way exchange chain
    val decided0 = docs.select(col(id).as("doc_id"))
      .join(gate(labels), Seq("doc_id"), "left")
      .join(gate(anchors), Seq("keep_id"), "left")
      .join(gate(histMin), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_h"), col("h_dup"),
          when(col("keep_id") =!= col("doc_id"), col("keep_id")))
          .as("dup_of"))
      .withColumn("is_dup", col("dup_of").isNotNull)
      .withColumn("batch_id", lit(batchId))
    val dupCount = Observation()
    val decidedCp = timed(spark, "decide-checkpoint")(decided0
      .observe(dupCount, count_if(col("is_dup")).as("n_dup"))
      .localCheckpoint())
    histMin.unpersist()

    // ---- survivors extend the index as the batch's partition
    // (ModelStore.appendBatch). Survivor sigs = signed docs minus dups:
    // every dup is signed (an unsigned doc is in no pair and no history
    // match), so the gated side is bounded by the signed-doc count, and
    // a batch with as many dups as signed docs (fully duplicate, or a
    // replayed delivery) has no signed survivor: it skips the write.
    // A null doc_id matches no decision, so it is dropped (the anti-join
    // keeps it); its sig row counts in nSigs, so such a batch writes.
    // The observed count arrives on the listener bus; get waits for it.
    if (dupCount.get("n_dup").asInstanceOf[Long] != nSigs) {
      val dups = decidedCp.filter(col("is_dup")).select("doc_id")
      val survivorSigs = sigs.filter(col("doc_id").isNotNull)
        .join(gate(dups), Seq("doc_id"), "left_anti")
      timed(spark, "sig-append-write") {
        store.appendBatch(survivorSigs, layer, s"${name}_sigs",
          "ingest_batch", batchId, meta = Map("sig_family" -> SigFamily))
      }
    }
    decidedCp.select("doc_id", "is_dup", "dup_of", "batch_id")
  }

  // ------------------------------------------- driver-checkable query
  // Two doc_id-range crawls (q86's arrival orchestration): the second
  // crawl dedups against the first through the PERSISTED index only.
  // Runs on the id%4==0 quarter of the corpus — the carrier exercises
  // the full two-crawl fold while the semantics (recall, anchoring,
  // idempotence, O(batch) appends) are asserted in NearDupIndexSpec.
  // Near-dup structure in the slice is MEASURED, not assumed (the
  // surviving replica-pair deltas are multiples of 4); re-slicing
  // must re-verify that cross-crawl matches remain.

  /** DuckDB replica of the WHOLE two-crawl fold: the shared minhash
    * CTEs ([[NearDup.minhashOracleCtes]] — string-chain shingle
    * fingerprints, 32 seeded lanes, band hashes), then batch-0
    * within-batch clustering (recursive min-label closure, the q35
    * pattern), batch-1 history probe against batch-0 SURVIVORS with
    * the deterministic per-doc candidate cap, agreement ≥ ½·32
    * positions, and the cluster-anchor coalesce — decision for
    * decision what [[ingestWithSigs]] computes through the store. */
  private def q92OracleSql: String = {
    val minAgree =
      (SigAgreeThreshold * NearDup.NumHashes).ceil.toInt  // est ≥ 0.5
    def agreePairs(cands: String, a: String, b: String) =
      s"""SELECT c.$a, c.$b FROM ($cands) c
         |  JOIN minh mx ON mx.doc_id = c.$a
         |  JOIN minh my ON my.doc_id = c.$b AND my.k = mx.k
         |  GROUP BY c.$a, c.$b
         |  HAVING sum(CASE WHEN mx.mh = my.mh THEN 1 ELSE 0 END)
         |         >= $minAgree""".stripMargin
    def closure(tag: String, agreed: String) =
      s"""edges$tag AS (
         |  SELECT a_id AS a, b_id AS b FROM $agreed
         |  UNION SELECT b_id, a_id FROM $agreed),
         |r$tag(a, b) AS (
         |  SELECT a, b FROM edges$tag
         |  UNION
         |  SELECT r$tag.a, e.b FROM r$tag JOIN edges$tag e
         |    ON r$tag.b = e.a),
         |comp$tag AS (SELECT a AS doc_id, min(b) AS mn
         |             FROM r$tag GROUP BY a)""".stripMargin
    s"""WITH RECURSIVE
       |docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
       |${NearDup.minhashOracleCtes("docs")},
       |bb AS (SELECT (max(doc_id) // 2) AS b1 FROM docs),
       |dband AS (
       |  SELECT bands.*,
       |         CASE WHEN doc_id <= bb.b1 THEN 0 ELSE 1 END AS batch
       |  FROM bands, bb),
       |cand0 AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM dband a JOIN dband b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id
       |  WHERE a.batch = 0 AND b.batch = 0),
       |agree0 AS (${agreePairs("SELECT * FROM cand0", "a_id", "b_id")}),
       |${closure("0", "agree0")},
       |lab0 AS (
       |  SELECT d.doc_id,
       |         least(d.doc_id, coalesce(c.mn, d.doc_id)) AS keep_id
       |  FROM docs d LEFT JOIN comp0 c USING (doc_id), bb
       |  WHERE d.doc_id <= bb.b1),
       |d0 AS (
       |  SELECT doc_id,
       |         CASE WHEN keep_id <> doc_id THEN keep_id END AS dup_of
       |  FROM lab0),
       |hist AS (SELECT doc_id FROM d0 WHERE dup_of IS NULL),
       |cand1h AS (
       |  SELECT DISTINCT n.doc_id, o.doc_id AS old_id
       |  FROM dband n JOIN dband o
       |    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
       |  JOIN hist h ON h.doc_id = o.doc_id
       |  WHERE n.batch = 1 AND o.batch = 0),
       |cap1 AS (
       |  SELECT doc_id, old_id FROM (
       |    SELECT doc_id, old_id, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY old_id) AS rn
       |    FROM cand1h) WHERE rn <= $MaxCandidatesPerDoc),
       |hagree AS (${agreePairs("SELECT * FROM cap1", "doc_id", "old_id")}),
       |histmin AS (
       |  SELECT doc_id, min(old_id) AS h_dup FROM hagree GROUP BY doc_id),
       |cand1 AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM dband a JOIN dband b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id
       |  WHERE a.batch = 1 AND b.batch = 1),
       |agree1 AS (${agreePairs("SELECT * FROM cand1", "a_id", "b_id")}),
       |${closure("1", "agree1")},
       |lab1 AS (
       |  SELECT d.doc_id,
       |         least(d.doc_id, coalesce(c.mn, d.doc_id)) AS keep_id
       |  FROM docs d LEFT JOIN comp1 c USING (doc_id), bb
       |  WHERE d.doc_id > bb.b1),
       |anch1 AS (
       |  SELECT l.keep_id, min(h.h_dup) AS cluster_h
       |  FROM lab1 l LEFT JOIN histmin h USING (doc_id)
       |  GROUP BY l.keep_id),
       |d1 AS (
       |  SELECT l.doc_id,
       |         coalesce(a.cluster_h, h.h_dup,
       |           CASE WHEN l.keep_id <> l.doc_id THEN l.keep_id END)
       |           AS dup_of
       |  FROM lab1 l
       |  LEFT JOIN anch1 a USING (keep_id)
       |  LEFT JOIN histmin h USING (doc_id))
       |SELECT doc_id, dup_of IS NOT NULL AS is_dup, dup_of,
       |       CAST(batch AS BIGINT) AS batch_id
       |FROM (SELECT *, 0 AS batch FROM d0
       |      UNION ALL SELECT *, 1 AS batch FROM d1)
       |ORDER BY doc_id""".stripMargin
  }

  val qIncrementalNearDup: Q =
    Q("q92_incremental_neardup", q92OracleSql) { (s, d) =>
      val store = new ModelStore(
        graft.pipeline.PipelineQuery.tempStoreDir())
      val docs = Tables.load(s, d, "documents")
        .filter(col("doc_id") % 4 === 0)
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val b1 = maxId / 2
      val bounds = Seq(col("doc_id") <= b1, col("doc_id") > b1)
      bounds.zipWithIndex.map { case (pred, i) =>
        ingest(s, store, "neardup", "idx", docs.filter(pred),
          "doc_id", col("text"), i.toLong)
      }.reduce(_ unionByName _).orderBy("doc_id")
    }.copy(sideEffecting = true)
}
