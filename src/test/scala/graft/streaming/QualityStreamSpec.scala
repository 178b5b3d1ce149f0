package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ModelStore
import graft.streaming.DocStream.IngestedDoc
import graft.streaming.QualityStream.RowRule

class QualityStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def doc(id: Long, ts: String, text: String): IngestedDoc =
    IngestedDoc(id, Timestamp.valueOf(ts), text)

  private val rules = Seq(
    RowRule("text_not_blank", length(trim(col("text"))) > 0),
    RowRule("min_words", size(split(col("text"), "\\s+")) >= 3),
    RowRule("positive_id", col("docId") > 0))

  test("annotate: strict NULL handling and named violations") {
    val rows = Seq((1L, "a fine document here"), (2L, "  "), (-3L, "x y z"))
      .toDF("docId", "text")
    val out = QualityStream.annotate(rows, rules)
      .select("docId", "failed_rules", "is_valid")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[String](1).toSet, r.getBoolean(2)))).toMap
    assert(out(1L) == ((Set.empty[String], true)))
    assert(out(2L)._1 == Set("text_not_blank", "min_words"))
    assert(out(-3L)._1 == Set("positive_id"))
  }

  test("stream routes rows to target vs quarantine across batches") {
    val store = new ModelStore(
      java.nio.file.Files.createTempDirectory("graft-qs").toString)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestedDoc]
    val query = input.toDS().toDF()
      .writeStream
      .foreachBatch(QualityStream.gatedSink(store, "silver", "docs", rules) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-qs-ckpt").toString)
      .start()
    try {
      input.addData(
        doc(1, "2024-03-15 10:00:00", "one perfectly valid document"),
        doc(2, "2024-03-15 10:01:00", ""))
      query.processAllAvailable()
      input.addData(
        doc(3, "2024-03-15 10:02:00", "another valid document arrives"),
        doc(-4, "2024-03-15 10:03:00", "id is broken here"))
      query.processAllAvailable()

      val good = store.read(spark, "silver", "docs").get
        .select("docId").collect().map(_.getLong(0)).toSet
      assert(good == Set(1L, 3L))
      // partition discovery re-infers the batch id from the dir path
      // (int-typed) — pin it back to long for the asserts
      val quarantined = store.read(spark, "silver", "docs_quarantine").get
        .select(col("docId"), col("failed_rules"),
          col("stream_batch_id").cast("long").as("stream_batch_id"))
        .collect()
      assert(quarantined.map(_.getLong(0)).toSet == Set(2L, -4L))
      // triage columns survive: rule names + the batch that brought it
      val bad4 = quarantined.find(_.getLong(0) == -4L).get
      assert(bad4.getSeq[String](1) == Seq("positive_id"))
      assert(bad4.getLong(2) >= 1L)

      // O(batch) appends: the second batch's version links the first
      // batch's partition dir (identical part files), writes only its own
      val v = store.currentVersion(spark, "silver", "docs")
      assert(v >= 2)
      val firstBatchId = store.read(spark, "silver", "docs").get
        .select(min(col("stream_batch_id")).cast("long"))
        .collect()(0).getLong(0)
      def files(ver: Int): Set[String] = {
        val dir = new java.io.File(
          store.versionDir("silver", "docs", ver) +
            s"/stream_batch_id=$firstBatchId")
        dir.listFiles().filter(_.getName.startsWith("part-"))
          .map(_.getName).toSet
      }
      assert(files(v) == files(v - 1) && files(v).nonEmpty)
    } finally query.stop()
  }

  test("gatedSink onto a pre-existing UNPARTITIONED table migrates it " +
      "instead of truncating it") {
    val store = new ModelStore(
      java.nio.file.Files.createTempDirectory("graft-qs-mig").toString)
    // batch-written history: no stream_batch_id column, no partitions
    store.write(
      Seq((100L, Timestamp.valueOf("2024-03-01 00:00:00"),
        "pre existing batch row")).toDF("docId", "ts", "text"),
      "silver", "mix")
    val sink = QualityStream.gatedSink(store, "silver", "mix", rules) _
    sink(Seq(doc(1, "2024-03-15 10:00:00",
      "one perfectly valid document")).toDF(), 0L)
    sink(Seq(doc(2, "2024-03-15 10:01:00",
      "two perfectly valid documents")).toDF(), 1L)
    // all three survive: the old rows were unioned into the migrated
    // layout (batch id null-backfilled), not dropped by a carry-over
    // that found no partition dirs
    val ids = store.read(spark, "silver", "mix").get
      .select("docId").collect().map(_.getLong(0)).toSet
    assert(ids == Set(100L, 1L, 2L))
  }

  test("an empty route commits nothing and stages no version dir") {
    val root = java.nio.file.Files.createTempDirectory("graft-qs-empty")
      .toString
    val store = new ModelStore(root)
    val sink = QualityStream.gatedSink(store, "silver", "ok", rules) _
    sink(Seq(doc(1, "2024-03-15 10:00:00",
      "one perfectly valid document")).toDF(), 0L)
    assert(store.currentVersion(spark, "silver", "ok") == 1)
    assert(store.currentVersion(spark, "silver", "ok_quarantine") == 0)
    assert(!new java.io.File(
      store.versionDir("silver", "ok_quarantine", 1)).exists)
  }
}
