package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ModelStore
import graft.model.{Pipeline, RunMode}
import graft.pipeline.{CdcFixtures, Clock, ReferenceModels}

/** The customers_latest MODEL run over a stream, micro-batch by
  * micro-batch, must converge to the same silver table the batch
  * pipeline produces from the same data split. */
class StreamingPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val clock = Clock(
    java.sql.Date.valueOf("2024-04-01"),
    java.sql.Timestamp.valueOf("2024-04-01 00:00:00"))
  private val models = new ReferenceModels(clock)

  test("streamed customers_latest equals batch bootstrap+incremental") {
    implicit val sqlCtx = spark.sqlContext

    // batch reference: bootstrap batch1, incremental batch2
    val batchStore = new ModelStore(
      Files.createTempDirectory("graft-sp-batch").toString)
    new Pipeline(Seq(models.customersLatest), batchStore,
      (_, _) => CdcFixtures.customersBatch1()).run(spark, RunMode.Bootstrap)
    new Pipeline(Seq(models.customersLatest), batchStore,
      (_, _) => CdcFixtures.customersBatch2())
      .run(spark, RunMode.Incremental)
    val expected = batchStore.read(spark, "silver", "customers_latest")
      .get.collect().map(_.getValuesMap[Any](Seq("customer_id", "email",
        "city", "first_seen_at", "last_updated_at"))).toSet

    // streaming: same two batches as micro-batches through the model
    val streamStore = new ModelStore(
      Files.createTempDirectory("graft-sp-stream").toString)
    val input = MemoryStream[CdcFixtures.CustCdc]
    val query = input.toDS().toDF().writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(
        StreamingPipeline.modelSink(streamStore, models.customersLatest,
          sourceName = "customers_cdc") _)
      .start()
    try {
      input.addData(CdcFixtures.customersBatch1()
        .as[CdcFixtures.CustCdc].collect().toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(CdcFixtures.customersBatch2()
        .as[CdcFixtures.CustCdc].collect().toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()

    val got = streamStore.read(spark, "silver", "customers_latest")
      .get.collect().map(_.getValuesMap[Any](Seq("customer_id", "email",
        "city", "first_seen_at", "last_updated_at"))).toSet
    assert(got == expected)

    // at-least-once replay: re-delivering batch 1 must be a no-op (the
    // committed batch id is newer), not a duplicate merge
    val versionBefore = streamStore
      .currentVersion(spark, "silver", "customers_latest")
    StreamingPipeline.modelSink(streamStore, models.customersLatest,
      sourceName = "customers_cdc")(CdcFixtures.customersBatch1(), 1L)
    assert(streamStore.currentVersion(spark, "silver", "customers_latest")
      == versionBefore)

    // a DIFFERENT query id behind the stored marker is NOT a replay —
    // it must raise (silently skipping would be data loss after a
    // checkpoint reset)
    val e = intercept[RuntimeException] {
      StreamingPipeline.modelSink(streamStore, models.customersLatest,
        sourceName = "customers_cdc", queryId = "reset-ckpt")(
        CdcFixtures.customersBatch1(), 0L)
    }
    assert(e.getMessage.contains("refusing behind-marker batch"))

    // a foreign query AHEAD of the marker must raise too — silently
    // taking over the table and its marker is the same split-brain,
    // just detected later (when the original query's next batch lands)
    val e2 = intercept[RuntimeException] {
      StreamingPipeline.modelSink(streamStore, models.customersLatest,
        sourceName = "customers_cdc", queryId = "second-writer")(
        CdcFixtures.customersBatch1(), 999L)
    }
    assert(e2.getMessage.contains("refusing ahead batch"))

    // deliberate handover: adopt re-points the markers, then the new
    // query's batch 0 is accepted
    StreamingPipeline.adopt(spark, streamStore, "silver",
      "customers_latest", "reset-ckpt")
    StreamingPipeline.modelSink(streamStore, models.customersLatest,
      sourceName = "customers_cdc", queryId = "reset-ckpt")(
      CdcFixtures.customersBatch2(), 0L)
    assert(streamStore.read(spark, "silver", "customers_latest")
      .get.collect().map(_.getValuesMap[Any](Seq("customer_id", "email",
        "city", "first_seen_at", "last_updated_at"))).toSet == expected)

    // retention: versions are vacuumed per batch, not accumulated
    val vdir = new java.io.File(
      streamStore.versionDir("silver", "customers_latest", 1))
        .getParentFile
    assert(vdir.listFiles.count(_.getName.startsWith("v")) <= 2)
  }

  test("streamed orders_cleaned with static customers_latest side " +
      "input equals the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext

    // batch reference over both models
    val batchStore = new ModelStore(
      Files.createTempDirectory("graft-sp2-batch").toString)
    new Pipeline(models.all, batchStore,
      (_, name) => name match {
        case "customers_cdc" => CdcFixtures.customersBatch1()
        case "orders_cdc" => CdcFixtures.ordersBatch1()
      }).run(spark, RunMode.Bootstrap)
    new Pipeline(models.all, batchStore,
      (_, name) => name match {
        case "customers_cdc" => CdcFixtures.customersBatch1()
        case "orders_cdc" => CdcFixtures.ordersBatch2()
      }).run(spark, RunMode.Incremental)
    val cols = Seq("order_id", "order_status", "order_total",
      "first_seen_at", "is_valid_order")
    val expected = batchStore.read(spark, "silver", "orders_cleaned")
      .get.collect().map(_.getValuesMap[Any](cols)).toSet

    // streaming: customers_latest materialized once as the static side
    // input; orders_cdc arrives as micro-batches, the model's ref()
    // resolves against the store on every trigger
    val streamStore = new ModelStore(
      Files.createTempDirectory("graft-sp2-stream").toString)
    new Pipeline(Seq(models.customersLatest), streamStore,
      (_, _) => CdcFixtures.customersBatch1()).run(spark, RunMode.Bootstrap)
    val refs = (n: String) => {
      val dep = models.all.find(_.name == n).get
      streamStore.read(spark, dep.layer, dep.name).get
    }
    val input = MemoryStream[CdcFixtures.OrderCdc]
    val query = input.toDS().toDF().writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(
        StreamingPipeline.modelSink(streamStore, models.ordersCleaned,
          sourceName = "orders_cdc", refs = refs,
          queryId = "orders-stream") _)
      .start()
    try {
      input.addData(CdcFixtures.ordersBatch1()
        .as[CdcFixtures.OrderCdc].collect().toIndexedSeq: _*)
      query.processAllAvailable()
      input.addData(CdcFixtures.ordersBatch2()
        .as[CdcFixtures.OrderCdc].collect().toIndexedSeq: _*)
      query.processAllAvailable()
    } finally query.stop()

    val got = streamStore.read(spark, "silver", "orders_cleaned")
      .get.collect().map(_.getValuesMap[Any](cols)).toSet
    assert(got == expected)
  }

  test("adopt keeps the zorder layout and the column stats") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-adopt-zorder").toString)
    store.write(
      Seq((1L, "p1", java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
        (2L, "p2", java.sql.Timestamp.valueOf("2024-03-02 11:00:00")))
        .toDF("v", "p", "ts"),
      "silver", "z", partitionBy = Seq("p"), zorderBy = Seq("ts"),
      statsCols = Seq("ts"),
      meta = Map("stream_query_id" -> "q-old", "stream_batch_id" -> "7"))
    StreamingPipeline.adopt(spark, store, "silver", "z", "q-new")
    assert(store.currentVersion(spark, "silver", "z") == 2)
    assert(store.meta(spark, "silver", "z", "stream_query_id")
      .contains("q-new"))
    assert(store.meta(spark, "silver", "z", "stream_batch_id")
      .contains("-1"))
    assert(store.meta(spark, "silver", "z", "layout_zorder_by")
      .contains("ts"))
    assert(store.hasPartitionLayout(spark, "silver", "z", Seq("p")))
    // the next batch's watermark gate reads the max from the commit
    assert(store.statMax(spark, "silver", "z", "ts")
      .contains("2024-03-02 11:00:00"))
  }
}
