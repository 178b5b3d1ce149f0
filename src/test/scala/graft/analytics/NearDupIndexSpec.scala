package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Actions, TestSpark}
import graft.io.{ModelStore, Tables}

class NearDupIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val Dir = "/root/testdata/sf0.001"

  private def docs = Tables.load(spark, Dir, "documents")
    .select("doc_id", "text")

  test("a later crawl's near-copies are flagged against the PERSISTED " +
      "index; originals survive; survivors extend the index") {
    val root = Files.createTempDirectory("graft-ndidx").toString
    val store = new ModelStore(root)
    val base = docs.limit(200).persist()
    val n = base.count()
    // crawl 1: the originals — empty history, so every cluster keeps
    // its smallest member
    val d1 = NearDupIndex.ingest(spark, store, "nd", "idx", base,
      "doc_id", col("text"), 0L).persist()
    assert(d1.count() == n)
    val kept1 = d1.filter(!col("is_dup")).count()
    assert(kept1 > 0)

    // crawl 2: shifted-id near-copies (one token appended — high
    // Jaccard overlap with the original, not byte-identical)
    val copies = base.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" extra")).as("text"))
    val d2 = NearDupIndex.ingest(spark, store, "nd", "idx", copies,
      "doc_id", col("text"), 1L).persist()
    val flagged = d2.filter(col("is_dup")).count()
    // near-copies of HISTORY must be caught through the stored index
    // (not all 200: a copy whose original was itself dropped as a
    // within-crawl-1 dup anchors to that cluster's keeper instead)
    assert(flagged >= kept1 / 2,
      s"only $flagged of $n near-copies flagged vs history")
    // every dup_of points at a crawl-1 id (earlier crawl wins), and
    // survivors of crawl 2 joined the index
    val dupTargets = d2.filter(col("is_dup"))
      .select("dup_of").distinct().collect().map(_.getLong(0))
    assert(dupTargets.forall(_ < 1000000L))
    val sigRows = store.read(spark, "nd", "idx_sigs").get
    val expected = kept1 + d2.filter(!col("is_dup")).count()
    assert(sigRows.count() == expected)
    // O(batch) append discipline: batch partitions link through
    assert(sigRows.select("ingest_batch").distinct().count() >= 1)
    d1.unpersist(); d2.unpersist(); base.unpersist(): Unit
  }

  test("a foreign-family signature store fails LOUD, not silently " +
      "novel") {
    // pre-upgrade (or foreign-engine) signatures never band-collide
    // with this engine's two-level minhash: probing them would
    // classify every re-crawl as novel and permanently duplicate the
    // corpus. The sig_family meta stamp turns that into an immediate
    // error.
    val root = Files.createTempDirectory("graft-ndidx").toString
    val store = new ModelStore(root)
    val base = docs.limit(50).persist()
    NearDupIndex.ingest(spark, store, "nd", "idx", base, "doc_id",
      col("text"), 0L).count()
    // simulate a store written by a different signature family
    val hijacked = store.read(spark, "nd", "idx_sigs").get
    store.write(hijacked, "nd", "idx_sigs",
      meta = Map("sig_family" -> "minhash1-legacy"))
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.ingest(spark, store, "nd", "idx", base, "doc_id",
        col("text"), 1L).count()
    }
    assert(e.getMessage.contains("minhash1-legacy") &&
      e.getMessage.contains(NearDupIndex.SigFamily))
    base.unpersist()
  }

  test("within-batch clusters keep the smallest id; history anchoring " +
      "claims the whole cluster") {
    val root = Files.createTempDirectory("graft-ndidx2").toString
    val store = new ModelStore(root)
    val text =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // crawl 1: one doc
    val d1 = NearDupIndex.ingest(spark, store, "nd", "idx",
      Seq((10L, text)).toDF("doc_id", "text"),
      "doc_id", col("text"), 0L)
    assert(d1.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq ==
      Seq((10L, false)))
    // crawl 2: two near-copies of each other AND of doc 10 — the
    // whole cluster must anchor to the historical keeper, so BOTH are
    // dups of 10 (not one surviving as "new")
    val d2 = NearDupIndex.ingest(spark, store, "nd", "idx",
      Seq((20L, text + " x"), (21L, text + " y")).toDF("doc_id", "text"),
      "doc_id", col("text"), 1L).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(d2(20L) == (true, 10L), s"got $d2")
    assert(d2(21L) == (true, 10L), s"got $d2")
    // nothing appended: the index still holds only doc 10
    assert(store.read(spark, "nd", "idx_sigs").get.count() == 1)

    // fresh store, same two docs WITHOUT history: cluster keeps the
    // smallest id and the other collapses onto it
    val store2 = new ModelStore(
      Files.createTempDirectory("graft-ndidx3").toString)
    val d3 = NearDupIndex.ingest(spark, store2, "nd", "idx",
      Seq((20L, text + " x"), (21L, text + " y")).toDF("doc_id", "text"),
      "doc_id", col("text"), 0L).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(d3(20L) == (false, -1L))
    assert(d3(21L) == (true, 20L))
  }

  test("re-ingesting the same batch is idempotent (everything dups " +
      "against history, index unchanged)") {
    val root = Files.createTempDirectory("graft-ndidx4").toString
    val store = new ModelStore(root)
    val base = docs.limit(50)
    NearDupIndex.ingest(spark, store, "nd", "idx", base,
      "doc_id", col("text"), 0L).count()
    val before = store.read(spark, "nd", "idx_sigs").get.count()
    val beforeV = store.currentVersion(spark, "nd", "idx_sigs")
    lazy val replay = NearDupIndex.ingest(spark, store, "nd", "idx",
      base, "doc_id", col("text"), 1L)
    // its observed dup count equals the signed-doc count: no write runs
    val ran = Actions(spark)(replay)
    assert(ran.map(_._1) === Seq("count", "collect", "localCheckpoint"))
    // identical docs: signature agreement is 1.0 — all flagged
    assert(replay.filter(!col("is_dup")).count() == 0)
    assert(store.read(spark, "nd", "idx_sigs").get.count() == before)
    // a zero-survivor batch commits NOTHING: no version churn whose
    // vacuum could delete versions concurrent readers still hold
    assert(store.currentVersion(spark, "nd", "idx_sigs") == beforeV)
  }

  /** Every file scan a physical plan runs, through AQE stages and
    * cached relations (a cached plan is one object however often it
    * is referenced). */
  private def scansOf(plan: SparkPlan): Seq[FileSourceScanExec] =
    plan match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case m: InMemoryTableScanExec => scansOf(m.relation.cachedPlan)
      case f: FileSourceScanExec => Seq(f)
      case p => p.children.flatMap(scansOf)
    }

  test("an ingest over existing history runs exactly 4 Spark actions " +
      "and scans the stored signatures once, pruned to doc_id and sig") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-ndidx7").toString)
    NearDupIndex.ingest(spark, store, "nd", "idx",
      docs.filter(col("doc_id") < 40), "doc_id", col("text"), 0L).count()
    // 40 new docs and near-copies of 10 history docs
    val batch = docs.filter(col("doc_id") >= 40 && col("doc_id") < 80)
      .unionByName(docs.filter(col("doc_id") < 10).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text")))
    lazy val decided = NearDupIndex.ingest(spark, store, "nd", "idx",
      batch, "doc_id", col("text"), 1L)
    val ran = Actions(spark)(decided)
    // the signed-doc count, the batch clustering collect, the decision
    // checkpoint (the history probe and verify run inside it) and the
    // survivors' append write
    assert(ran.map(_._1) ===
      Seq("count", "collect", "localCheckpoint", "command"))
    // the probe found history: near-copies collapse onto stored docs
    assert(decided.filter(col("dup_of") < 40).count() > 0)
    val sigScans = ran.flatMap(r => scansOf(r._2.executedPlan))
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("idx_sigs")))
    // distinct by identity: the cached histMin plan is shared by the
    // plans that reference it
    val distinct = sigScans.foldLeft(List.empty[FileSourceScanExec]) {
      (acc, s) => if (acc.exists(_ eq s)) acc else s :: acc }
    assert(distinct.size == 1, s"${distinct.size} scans of idx_sigs")
    assert(distinct.head.requiredSchema.catalogString ===
      "struct<doc_id:bigint,sig:array<bigint>>")
  }

  test("signature appends: a zero-survivor batch stages no version " +
      "dir; a later batch links the earlier partitions") {
    val root = Files.createTempDirectory("graft-ndidx6").toString
    val store = new ModelStore(root)
    val base = docs.filter(col("doc_id") < 40)
    NearDupIndex.ingest(spark, store, "nd", "idx", base,
      "doc_id", col("text"), 0L).count()
    val v = store.currentVersion(spark, "nd", "idx_sigs")
    NearDupIndex.ingest(spark, store, "nd", "idx", base,
      "doc_id", col("text"), 1L).count()
    assert(store.currentVersion(spark, "nd", "idx_sigs") == v)
    assert(!new java.io.File(store.versionDir("nd", "idx_sigs", v + 1))
      .exists)
    NearDupIndex.ingest(spark, store, "nd", "idx",
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 80),
      "doc_id", col("text"), 2L).count()
    assert(store.currentVersion(spark, "nd", "idx_sigs") == v + 1)
    def parts(ver: Int): Map[String, Seq[java.io.File]] =
      new java.io.File(store.versionDir("nd", "idx_sigs", ver)).listFiles
        .toSeq.filter(_.getName.startsWith("ingest_batch=")).map(d =>
          d.getName -> d.listFiles.toSeq
            .filter(_.getName.endsWith(".parquet"))).toMap
    assert(parts(v + 1).keySet == Set("ingest_batch=0", "ingest_batch=2"))
    assert(parts(v + 1)("ingest_batch=0").forall(f =>
      Files.getAttribute(f.toPath, "unix:nlink")
        .asInstanceOf[Number].intValue >= 2))
    assert(store.meta(spark, "nd", "idx_sigs", "sig_family")
      .contains(NearDupIndex.SigFamily))
  }

  test("forced-large batch (band-row gate 0) takes the shuffle-probe " +
      "arm and makes identical decisions") {
    def run(cap: Long): Map[Long, (Boolean, Long)] = {
      val store = new ModelStore(
        Files.createTempDirectory("graft-ndidx5").toString)
      val base = docs.limit(120)
      NearDupIndex.ingest(spark, store, "nd", "idx", base,
        "doc_id", col("text"), 0L,
        broadcastCap = cap).count()
      val copies = base.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
      NearDupIndex.ingest(spark, store, "nd", "idx", copies,
        "doc_id", col("text"), 1L,
        broadcastCap = cap)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
        .toMap
    }
    val shuffled = run(0L) // every batch "too big to broadcast"
    val broadcasted = run(Long.MaxValue)
    assert(shuffled === broadcasted)
    assert(shuffled.nonEmpty && shuffled.exists(_._2._1))
  }
}
