package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.analytics.{IncrementalDedup, NearDupIndex, TextOps}
import graft.io.{ModelStore, Tables}

/** An LLM corpus arriving in doc_id-range batches: exact dedup against
  * the fingerprint history, then near-dup dedup of the survivors
  * against the signature index. Set-up ingests the history share of
  * the corpus into the empty indexes; the timed batches share the
  * rest. */
object DocIngest extends Workload {
  /** Timed batches per process, 10-13 s each on 4 cores at sf0.01
    * (about 50 Spark jobs whatever the batch size). Set-up costs about
    * 35 s more, so the benchmark's 10 s runs time one. */
  def timedBatches(seconds: Int): Int = math.max(1, seconds / 10)

  /** The history batch holds the doc ids below this share of the
    * corpus, so every seed consumes the same rows in the timed span. */
  val HistoryShare = 0.6

  /** Exclusive upper doc ids of the timed batches: seeded, roughly
    * equal ranges over `[lo, n)` (with one batch the seed picks
    * nothing). */
  def bounds(seed: Long, batches: Int, lo: Long, n: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed ^ 0x5deece66dL)
    val w = Seq.fill(batches)(0.6 + 0.8 * rnd.nextDouble())
    w.scanLeft(0.0)(_ + _).tail.map(x =>
      lo + math.round((n - lo) * x / w.sum))
  }

  def run(r: Run): Unit = {
    val s = r.spark
    val d = s"${r.opts.data}/sf0.01"
    r.inputBytes = inputBytes(d, Seq("documents"))
    val store = new ModelStore(r.storeDir("doc_ingest"))
    val docs = Tables.load(s, d, "documents").select(col("doc_id"),
      col("text"), TextOps.contentHash(col("text")).as("content_fp"))
    // the ids, to cut the batches and count their rows before any op
    val docIds = docs.select("doc_id").collect().map(_.getLong(0))
    val nDocs = docIds.max + 1
    val batches = timedBatches(r.opts.seconds)
    val histEnd = math.round(nDocs * HistoryShare)
    val hi = histEnd +: bounds(r.opts.seed, batches, histEnd, nDocs)
    val ranges = (0L +: hi).sliding(2).map { case Seq(a, b) => (a, b) }
      .toSeq
    r.log(s"doc_id batch bounds ${hi.mkString(" ")}")
    val perBatch = ranges.map { case (a, b) =>
      docIds.count(i => i >= a && i < b).toLong }

    val decisions = mutable.ArrayBuffer.empty[(Long, Boolean, Option[Long])]
    def ingest(i: Int): Long = {
      val (a, b) = ranges(i)
      val batch = docs.filter(col("doc_id") >= a && col("doc_id") < b)
      val kept = r.trace.span("analytics.dedup_apply")(
        IncrementalDedup.applyBatch(s, store, "dedup", "doc_fps",
          batch.select("doc_id", "content_fp"), i.toLong))
      val survivors = batch.join(kept.select("doc_id"), "doc_id")
      val decided = r.trace.span("analytics.neardup_ingest")(
        NearDupIndex.ingest(s, store, "neardup", "idx", survivors,
          "doc_id", col("text"), i.toLong).collect())
      decided.foreach(x => decisions += ((x.getLong(0), x.getBoolean(1),
        if (x.isNullAt(2)) None else Some(x.getLong(2)))))
      perBatch(i)
    }
    r.segment("bootstrap")(ingest(0))
    r.walkStores()
    val decided0 = decisions.length
    (1 to batches).foreach(i => r.op("batch")(ingest(i)))
    r.inputRows = r.ops.map(_.rows).sum
    val docsKept = decisions.drop(decided0).count(!_._2)
    r.extra("analytics.docs_in") = r.inputRows.toDouble / batches
    r.extra("analytics.docs_kept") = docsKept.toDouble / batches
    r.extra("analytics.keep_ratio") =
      docsKept.toDouble / r.inputRows.max(1L)

    r.check("exact-dedup survivors equal one-shot first-copy dedup") {
      val got = r.trace.span("io.store_read")(
        store.read(s, "dedup", "doc_fps").get)
        .select("doc_id", "content_fp")
      val want = docs.filter(col("doc_id") < hi.last).groupBy("content_fp")
        .agg(min("doc_id").as("doc_id")).select("doc_id", "content_fp")
      sameRows(got, want)
    }
    r.check("near-dup: each doc decided once, each dup_of a kept doc") {
      val keptIds = decisions.collect { case (id, false, _) => id }.toSet
      val survivorIds = r.trace.span("io.store_read")(
        store.read(s, "dedup", "doc_fps").get).select("doc_id")
        .collect().map(_.getLong(0))
      decisions.map(_._1).distinct.length == decisions.length &&
        decisions.map(_._1).toSet == survivorIds.toSet &&
        decisions.forall(_._3.forall(keptIds))
    }
  }
}
