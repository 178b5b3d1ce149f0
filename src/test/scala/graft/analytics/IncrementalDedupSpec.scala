package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Actions, TestSpark}
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

  test("duplicate-heavy folds equal one-shot first-copy dedup") {
    // most winners of the later folds are already in history: each is
    // verified against the history column and dropped, and the folded
    // corpus is exactly one-shot dedup over the batches in order
    val st = store()
    val batches = Seq(
      Seq(1L -> "a", 2L -> "b", 3L -> "c"),
      Seq(10L -> "a", 11L -> "b", 12L -> "d"), // one novel key
      Seq(20L -> "c", 21L -> "d")) // all duplicates
    val kept = batches.zipWithIndex.map { case (b, i) =>
      keptIds(IncrementalDedup.applyBatch(spark, st, "d", "fps",
        docs(b: _*), i.toLong))
    }
    assert(kept === Seq(Set(1L, 2L, 3L), Set(12L), Set.empty[Long]))
    val oneShot = docs(batches.flatten: _*)
      .groupBy("content_fp").agg(min("doc_id").as("doc_id"))
    assert(keptIds(st.read(spark, "d", "fps").get) === keptIds(oneShot))
  }

  test("a sketch table left by an older layout is neither read nor " +
      "written") {
    // older folds kept a `<name>_sketch` Bloom side-table next to the
    // history; a fold over such a store verifies against the history
    // column alone and leaves that table as it found it
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    // a stale sketch that claims nothing is stored: trusting it would
    // re-admit "one"
    st.write(Seq((0, Array.emptyByteArray)).toDF("shard", "sketch"),
      "d", "fps_sketch", meta = Map("num_shards" -> "8"))
    def sketchState = (st.currentVersion(spark, "d", "fps_sketch"),
      st.read(spark, "d", "fps_sketch").get.count())
    val before = sketchState
    val out = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "one", 4L -> "three"), 1L)
    assert(keptIds(out) === Set(4L))
    assert(keptIds(st.read(spark, "d", "fps").get) === Set(1L, 2L, 4L))
    assert(sketchState === before)
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
      "version and create no sketch table") {
    val st = store()
    def version = st.currentVersion(spark, "d", "fps")
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    assert(version == 1)
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(3L -> "one", 4L -> "TWO"), 1L): Unit
    assert(version == 1)
    val replay = IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L)
    assert(keptIds(replay) === Set(1L, 2L))
    assert(version == 1)
    // a batch that keeps a row commits the next version
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(5L -> "five", 6L -> "one"), 2L): Unit
    assert(version == 2)
    assert(st.read(spark, "d", "fps_sketch").isEmpty)
  }

  test("a fold over existing history runs exactly 3 Spark actions") {
    // the winners count, the append write (the history verify runs
    // inside it) and the read-back checkpoint
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    val ran = Actions(spark)(IncrementalDedup.applyBatch(spark, st, "d",
      "fps", docs(3L -> "one", 4L -> "three"), 1L))
    assert(ran.map(_._1) === Seq("count", "command", "localCheckpoint"))
  }

  test("a first fold (no history yet) runs exactly 3 Spark actions") {
    val st = store()
    val ran = Actions(spark)(IncrementalDedup.applyBatch(spark, st, "d",
      "fps", docs(1L -> "one", 2L -> "two", 3L -> "ONE"), 0L))
    assert(ran.map(_._1) === Seq("count", "command", "localCheckpoint"))
    assert(keptIds(st.read(spark, "d", "fps").get) === Set(1L, 2L))
  }

  test("the verify reads only the history's fingerprint column and " +
      "broadcasts the batch keys") {
    val st = store()
    IncrementalDedup.applyBatch(spark, st, "d", "fps",
      docs(1L -> "one", 2L -> "two"), 0L): Unit
    val ran = Actions(spark)(IncrementalDedup.applyBatch(spark, st, "d",
      "fps", docs(3L -> "one", 4L -> "three"), 1L))
    val plans = ran.map(_._2.explainString(FormattedMode))
    val verify = plans.filter(_.contains("LeftSemi"))
    assert(verify.size == 1, "the verify runs in one action")
    // AQE prints its initial and final plans: each scan shows twice
    val readSchemas = "ReadSchema: (\\S+)".r
      .findAllMatchIn(verify.head).map(_.group(1)).toSeq.distinct
    assert(readSchemas === Seq("struct<content_fp:string>"))
    assert(verify.head.contains("BroadcastHashJoin LeftSemi"))
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
