package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ModelStore

class IncrementalDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")
      .select(col("doc_id"),
        md5(TextOps.normalized(col("text"))).as("content_fp"))

  private def store() =
    new ModelStore(Files.createTempDirectory("graft-incdedup").toString)

  private def keptIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("batch folding equals one-shot first-copy dedup") {
    val st = store()
    val all = Seq(
      1L -> "alpha beta", 2L -> "gamma", 3L -> "ALPHA   beta", // 3 dups 1
      4L -> "delta", 5L -> "gamma", 6L -> "epsilon", // 5 dups 2
      7L -> "delta ", 8L -> "zeta") // 7 dups 4 (trim-normalized)
    val batches = all.grouped(3).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalDedup.applyBatch(spark, st, "d", "fps",
        docs(b: _*), i.toLong): Unit
    }
    val state = st.read(spark, "d", "fps").get
    // one-shot: min doc_id per fingerprint over everything
    val oneShot = docs(all: _*)
      .groupBy("content_fp").agg(min("doc_id").as("doc_id"))
    assert(keptIds(state) === keptIds(oneShot))
    assert(keptIds(state) === Set(1L, 2L, 4L, 6L, 8L))
    // the batch that introduced each fp is recorded
    val byBatch = state
      .select(col("doc_id"), col("ingest_batch").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBatch === Map(1L -> 0L, 2L -> 0L, 4L -> 1L, 6L -> 1L,
      8L -> 2L))
  }

  test("a fold's returned frame survives two later folds' vacuums") {
    // applyBatch returns an eager localCheckpoint: a LAZY read-back
    // would be pinned to its store version's path, which keepLast=2
    // vacuuming deletes two folds later — the caller holding fold-0's
    // result across fold 2 would hit FileNotFoundException
    val st = store()
    val kept0 = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "alpha", 2L -> "beta"), 0L)
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "gamma"), 1L): Unit
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(4L -> "delta"), 2L): Unit
    assert(keptIds(kept0) === Set(1L, 2L))
  }

  test("a later-batch duplicate is dropped; its return reflects it") {
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "same text"), 0L): Unit
    val second = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(10L -> "Same   TEXT", 11L -> "fresh"), 1L)
    assert(keptIds(second) === Set(11L))
    // an all-duplicates batch commits an empty partition set: nothing
    // kept, and the surviving state is untouched
    val third = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(20L -> "same text", 21L -> "fresh"), 2L)
    assert(third.isEmpty)
    assert(keptIds(st.read(spark, "d", "fps").get) === Set(1L, 11L))
  }

  test("correctness survives a pathological all-colliding sketch") {
    // 8-bit sketch: every fingerprint collides, so EVERY winner routes
    // through exact verification — novel docs must still be kept (a
    // Bloom false positive may only cost work, never a drop)
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one"), 0L, estKeys = 1L, numBits = 8L): Unit
    val out = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(2L -> "two", 3L -> "one"), 1L, estKeys = 1L, numBits = 8L)
    assert(keptIds(out) === Set(2L))
  }

  test("half-explicit sizing derives the missing twin at 8 bits/key") {
    // estKeys alone used to leave numBits at the AutoSize sentinel
    // (0), which the explicit path took literally — a degenerate
    // 8-bit-per-shard filter. The missing parameter must derive.
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one"), 0L, estKeys = 4096L): Unit
    def meta(k: String) =
      st.meta(spark, "d", "fps_sketch", k).flatMap(_.toLongOption)
    assert(meta("est_keys") === Some(4096L))
    assert(meta("num_bits") === Some(8L * 4096L))
    // and the other direction
    val st2 = store()
    IncrementalDedup.applyBatch(spark, st2, "d", "fps",
      docs(1L -> "one"), 0L, numBits = 65536L): Unit
    def meta2(k: String) =
      st2.meta(spark, "d", "fps_sketch", k).flatMap(_.toLongOption)
    assert(meta2("est_keys") === Some(65536L / 8))
    assert(meta2("num_bits") === Some(65536L))
  }

  test("n_keys meta tracks the true distinct population across " +
      "duplicate-heavy folds") {
    // the capacity estimate counts KEPT keys, not batch winners: a
    // mostly-duplicate workload must not inflate n_keys (which would
    // trigger geometric rebuilds over the full history long before the
    // real population warrants one)
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "a", 2L -> "b", 3L -> "c"), 0L): Unit
    // 3 winners, but only one novel key
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(10L -> "a", 11L -> "b", 12L -> "d"), 1L): Unit
    // all duplicates: population unchanged
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(20L -> "c", 21L -> "d"), 2L): Unit
    val nKeys = st.meta(spark, "d", "fps_sketch", "n_keys")
      .flatMap(_.toLongOption)
    assert(nKeys === Some(4L)) // {a, b, c, d}
  }

  test("a deleted sketch degrades to verify-everything, not data loss") {
    val rootDir = Files.createTempDirectory("graft-incdedup-nosketch")
    val st = new ModelStore(rootDir.toString)
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    // simulate sketch loss: the fps table survives, the sketch is gone
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(s"$rootDir/d/fps_sketch"))
    val out = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "one", 4L -> "three"), 1L)
    assert(keptIds(out) === Set(4L))
  }

  test("history append links prior batch partitions (O(batch) writes)") {
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    val v1Files = filesUnder(st.versionDir("d", "fps", 1))
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "three"), 1L): Unit
    val v2Files = filesUnder(st.versionDir("d", "fps", 2))
    // batch 0's partition carried over with byte-identical file names
    val b0 = v1Files.filter(_.contains("ingest_batch=0"))
    assert(b0.nonEmpty &&
      b0.forall(f => v2Files.contains(f)))
    assert(v2Files.exists(_.contains("ingest_batch=1")))
  }

  test("a replayed batch is idempotent (natural exactly-once)") {
    val st = store()
    val first = keptIds(IncrementalDedup.applyBatch(spark, st, "d",
      "fps", docs(1L -> "one", 2L -> "two"), 0L))
    val replay = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L)
    // the replay commits nothing new and returns the SAME kept set as
    // the original delivery (its rows live in the ingest_batch=0
    // partition the replay's empty write carried over)
    assert(keptIds(replay) === first)
    assert(keptIds(st.read(spark, "d", "fps").get) === Set(1L, 2L))
  }

  test("sharded sketch: ≥4-shard folding equals the single-shard fold; " +
      "the sketch lives as one row per populated shard") {
    val all = Seq(
      1L -> "alpha", 2L -> "beta", 3L -> "ALPHA", 4L -> "gamma",
      5L -> "beta ", 6L -> "delta", 7L -> "gamma", 8L -> "epsilon",
      9L -> "delta", 10L -> "zeta", 11L -> "alpha", 12L -> "eta")
    def fold(shards: Int): (Set[Long], Long) = {
      val st = store()
      all.grouped(4).zipWithIndex.foreach { case (b, i) =>
        IncrementalDedup.applyBatch(spark, st, "d", "fps",
          docs(b: _*), i.toLong, numShards = shards): Unit
      }
      (keptIds(st.read(spark, "d", "fps").get),
        st.read(spark, "d", "fps_sketch").get.count())
    }
    val (kept4, sketchRows4) = fold(4)
    val (kept1, sketchRows1) = fold(1)
    assert(kept4 === kept1) // shard layout can never change decisions
    assert(kept4 === Set(1L, 2L, 4L, 6L, 8L, 10L, 12L))
    // the sharded sketch is TABLE rows, not one driver byte array:
    // >1 row at 4 shards (12 distinct fps hash across several shards)
    assert(sketchRows4 > 1L && sketchRows4 <= 4L)
    assert(sketchRows1 === 1L)
  }

  test("forced-large batch (broadcast gate 0) takes the shuffle arm " +
      "and makes identical decisions") {
    def fold(cap: Long): Set[Long] = {
      val st = store()
      IncrementalDedup.applyBatch(spark, st, "d", "fps",
        docs(1L -> "one", 2L -> "two"), 0L,
        broadcastCap = cap): Unit
      IncrementalDedup.applyBatch(spark, st, "d", "fps",
        docs(3L -> "one", 4L -> "three", 5L -> "THREE"), 1L,
        broadcastCap = cap): Unit
      keptIds(st.read(spark, "d", "fps").get)
    }
    val shuffled = fold(0L) // every batch is "too big to broadcast"
    val broadcasted = fold(Long.MaxValue)
    assert(shuffled === broadcasted)
    assert(shuffled === Set(1L, 2L, 4L))
  }

  test("applyBatch onto a pre-existing unpartitioned history keeps " +
      "its rows") {
    val st = store()
    // batch-written history: no ingest_batch column, no partitions
    st.write(docs(1L -> "one", 2L -> "two"), "d", "fps")
    val kept = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "ONE", 4L -> "four"), 0L)
    assert(keptIds(kept) === Set(4L))
    assert(keptIds(st.read(spark, "d", "fps").get) === Set(1L, 2L, 4L))
    // migrated: the next batch appends on the linked path
    assert(st.hasPartitionLayout(spark, "d", "fps", Seq("ingest_batch")))
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(5L -> "five"), 1L): Unit
    assert(keptIds(st.read(spark, "d", "fps").get) ===
      Set(1L, 2L, 4L, 5L))
  }

  test("an all-duplicate batch commits no version of the history") {
    val st = store()
    // an empty first batch keeps nothing and creates no table
    assert(keptIds(IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(), 0L)).isEmpty)
    assert(st.currentVersion(spark, "d", "fps") == 0)
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    val v = st.currentVersion(spark, "d", "fps")
    val out = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "one", 4L -> "TWO"), 1L)
    assert(keptIds(out).isEmpty)
    assert(st.currentVersion(spark, "d", "fps") == v)
    assert(!new java.io.File(st.versionDir("d", "fps", v + 1)).exists)
  }

  test("an all-duplicate batch and a replayed delivery commit no " +
      "sketch version") {
    val st = store()
    def sketchVersion = st.currentVersion(spark, "d", "fps_sketch")
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    assert(sketchVersion == 1)
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "one", 4L -> "TWO"), 1L): Unit
    assert(sketchVersion == 1)
    val replay = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L)
    assert(keptIds(replay) === Set(1L, 2L))
    assert(sketchVersion == 1)
    // a batch that keeps a row still merges into the sketch
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(5L -> "five", 6L -> "one"), 2L): Unit
    assert(sketchVersion == 2)
    assert(st.meta(spark, "d", "fps_sketch", "n_keys").contains("3"))
  }

  private def filesUnder(dir: String): Set[String] = {
    val base = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(base).filterNot(_.getName.startsWith(".")) // checksum files
      .map(_.getAbsolutePath.stripPrefix(base.getAbsolutePath))
      .filterNot(_.contains("_SUCCESS")).toSet
  }
}
