package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ModelStore
import graft.streaming.CdcStream.CdcEvent

/** Streaming CDC semantics driven through MemoryStream micro-batches:
  * latest-per-key state, tie-breaks, and the foreachBatch SCD-1 merge
  * converging to the batch pipeline's answer. */
class CdcStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ev(key: String, op: String, ts: String, ing: String = null,
      payload: String = "p"): CdcEvent =
    CdcEvent(key, op, Timestamp.valueOf(ts),
      Timestamp.valueOf(Option(ing).getOrElse(ts)), payload)

  test("latestPerKey: per-trigger winners with tie-break") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcEvent]
    val result = CdcStream.latestPerKey(input.toDS(), "10 minutes")
    val query = result.writeStream
      .format("memory").queryName("latest_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        ev("K1", "INSERT", "2024-03-15 10:00:00", payload = "v1"),
        ev("K1", "UPDATE", "2024-03-15 11:00:00", payload = "v2"),
        ev("K2", "INSERT", "2024-03-15 10:30:00",
          ing = "2024-03-15 10:31:00", payload = "a"),
        ev("K2", "UPDATE", "2024-03-15 10:30:00",
          ing = "2024-03-15 10:35:00", payload = "b"))
      query.processAllAvailable()
      val round1 = spark.table("latest_out").as[CdcEvent].collect()
        .map(e => e.key -> e.payload).toMap
      assert(round1 == Map("K1" -> "v2", "K2" -> "b"))  // ties by ingest

      // second micro-batch: older event must NOT displace state. The
      // Update-mode memory sink ACCUMULATES emissions, so the check
      // must be "batch 2 emitted nothing new for K1" — a maxBy over
      // the emission history would pick the 11:00 winner even if the
      // stale event HAD displaced state and been emitted (tautology).
      val k1Emissions1 = spark.table("latest_out").as[CdcEvent]
        .collect().count(_.key == "K1")
      input.addData(
        ev("K1", "UPDATE", "2024-03-15 09:00:00", payload = "stale"),
        ev("K3", "INSERT", "2024-03-15 12:00:00", payload = "new"))
      query.processAllAvailable()
      val all = spark.table("latest_out").as[CdcEvent].collect()
      assert(all.count(_.key == "K1") == k1Emissions1,
        "stale event displaced state (new K1 emission)")
      assert(!all.exists(_.payload == "stale"))
      assert(all.filter(_.key == "K3").map(_.payload).toSeq == Seq("new"))

      // third micro-batch: watermark is now ~11:50 (max 12:00 − 10min);
      // a NEW key arriving behind it must be dropped entirely — this is
      // the batch gate's late-row semantics, and it only holds under
      // EventTimeTimeout (with NoTimeout the watermark is inert)
      input.addData(ev("K9", "INSERT", "2024-03-15 10:00:00",
        payload = "too-late"))
      query.processAllAvailable()
      assert(!spark.table("latest_out").as[CdcEvent].collect()
        .exists(_.key == "K9"))
    } finally query.stop()
  }

  test("windowed event-time counts with watermark drop late rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcEvent]
    val query = CdcStream.windowedCounts(input.toDS(), "1 hour",
        "30 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        ev("K1", "INSERT", "2024-03-15 10:05:00"),
        ev("K2", "INSERT", "2024-03-15 10:55:00"),
        ev("K3", "UPDATE", "2024-03-15 11:10:00"))
      query.processAllAvailable()
      // watermark is now 11:10 - 30min = 10:40 → a 10:15 row is within
      // the 10:00 window but BEHIND the watermark only if < 10:40
      input.addData(
        ev("K4", "INSERT", "2024-03-15 10:40:30"),  // kept (≥ watermark)
        ev("K5", "INSERT", "2024-03-15 09:10:00"))  // late → dropped
      query.processAllAvailable()
      val counts = spark.table("win_out")
        .selectExpr("window.start AS ws", "op", "count")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2)))
        .groupBy(t => (t._1, t._2))
        .map { case (k, vs) => k -> vs.map(_._3).max }
      // 10:00 window INSERTs: K1 + K2 + K4 = 3 (late K5 never appears)
      assert(counts(("2024-03-15 10:00:00.0", "INSERT")) == 3L)
      assert(counts(("2024-03-15 11:00:00.0", "UPDATE")) == 1L)
      assert(!counts.keySet.exists(_._1.startsWith("2024-03-15 09")))
    } finally query.stop()
  }

  test("stream latestPerKey agrees with the batch CdcDedup on same data") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev("K1", "INSERT", "2024-03-15 10:00:00", payload = "v1"),
      ev("K1", "UPDATE", "2024-03-15 12:00:00", payload = "v3"),
      ev("K1", "UPDATE", "2024-03-15 11:00:00", payload = "v2"),
      ev("K2", "INSERT", "2024-03-15 10:30:00",
        ing = "2024-03-15 10:31:00", payload = "a"),
      ev("K2", "UPDATE", "2024-03-15 10:30:00",
        ing = "2024-03-15 10:35:00", payload = "b"))

    // batch path
    import org.apache.spark.sql.functions.col
    val batch = graft.ops.CdcDedup.latestByKey(events.toDF(),
        Seq("key"), Seq(col("cdcTimestamp").desc, col("ingestedAt").desc))
      .collect().map(r => r.getAs[String]("key") ->
        r.getAs[String]("payload")).toMap

    // streaming path (single micro-batch)
    val input = MemoryStream[CdcEvent]
    val q = CdcStream.latestPerKey(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("parity_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val stream = spark.table("parity_out").as[CdcEvent].collect()
        .map(e => e.key -> e.payload).toMap
      assert(stream == batch)
      assert(batch == Map("K1" -> "v3", "K2" -> "b"))
    } finally q.stop()
  }

  test("dropDuplicateDeliveries removes redelivered events in-watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcEvent]
    val query = CdcStream.dropDuplicateDeliveries(input.toDS(), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ev("K1", "INSERT", "2024-03-15 10:00:00"),
        ev("K1", "INSERT", "2024-03-15 10:00:00"),   // duplicate delivery
        ev("K1", "UPDATE", "2024-03-15 11:00:00"),   // new version: kept
        ev("K2", "INSERT", "2024-03-15 10:30:00"))
      query.processAllAvailable()
      val rows = spark.table("dedup_out").as[CdcEvent].collect()
      assert(rows.map(e => (e.key, e.cdcTimestamp.toString)).sorted.toSeq ==
        Seq(("K1", "2024-03-15 10:00:00.0"), ("K1", "2024-03-15 11:00:00.0"),
          ("K2", "2024-03-15 10:30:00.0")))
    } finally query.stop()
  }

  test("foreachBatch SCD-1 sink converges to merged current state") {
    implicit val sqlCtx = spark.sqlContext
    val store = new ModelStore(
      Files.createTempDirectory("graft-stream").toString)
    val input = MemoryStream[CdcEvent]
    val query = CdcStream.latestPerKey(input.toDS(), "10 minutes")
      .writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch(CdcStream.scd1Sink(spark, store, "silver", "stream_t") _)
      .start()
    try {
      input.addData(
        ev("K1", "INSERT", "2024-03-15 10:00:00", payload = "v1"),
        ev("K2", "INSERT", "2024-03-15 10:10:00", payload = "w1"))
      query.processAllAvailable()
      input.addData(
        ev("K1", "UPDATE", "2024-03-15 11:00:00", payload = "v2"),
        ev("K2", "DELETE", "2024-03-15 11:10:00"),
        ev("K3", "INSERT", "2024-03-15 11:20:00", payload = "x1"))
      query.processAllAvailable()

      val state = store.read(spark, "silver", "stream_t").get
        .as[CdcEvent].collect().map(e => e.key -> e.payload).toMap
      // K1 upserted to v2; K2's cross-batch DELETE removes the stored
      // row — the result must not depend on which trigger the delete
      // landed in (a batch q12 run over the same full feed drops K2);
      // K3 inserted
      assert(state == Map("K1" -> "v2", "K3" -> "x1"))

      // a key deleted in one trigger can be re-inserted by a later one
      input.addData(
        ev("K2", "INSERT", "2024-03-15 12:00:00", payload = "w2"))
      query.processAllAvailable()
      val state2 = store.read(spark, "silver", "stream_t").get
        .as[CdcEvent].collect().map(e => e.key -> e.payload).toMap
      assert(state2 == Map("K1" -> "v2", "K2" -> "w2", "K3" -> "x1"))
    } finally query.stop()
  }

  test("sessionCounts: gap merges events, watermark closes sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcEvent]
    // 30-minute gap, 10-minute watermark — mirrors q17's batch 1800 s
    val query = CdcStream.sessionCounts(input.toDS(), "30 minutes",
        "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ev("K1", "INSERT", "2024-03-15 10:00:00"),
        ev("K1", "UPDATE", "2024-03-15 10:20:00"),   // same session
        ev("K1", "UPDATE", "2024-03-15 12:00:00"),   // new session
        ev("K2", "INSERT", "2024-03-15 10:05:00"))
      query.processAllAvailable()
      // advance the watermark far past every session end so Append
      // mode emits the closed sessions
      input.addData(ev("K9", "INSERT", "2024-03-15 20:00:00"))
      query.processAllAvailable()
      val sessions = spark.table("sess_out")
        .collect()
        .map(r => (r.getAs[String]("key"),
          r.getAs[java.sql.Timestamp]("session_start").toString,
          r.getAs[Long]("n_events")))
        .toSet
      // K1: one 2-event session from 10:00, one 1-event from 12:00
      assert(sessions.contains(("K1", "2024-03-15 10:00:00.0", 2L)))
      assert(sessions.contains(("K1", "2024-03-15 12:00:00.0", 1L)))
      assert(sessions.contains(("K2", "2024-03-15 10:05:00.0", 1L)))
    } finally query.stop()
  }

  test("scd1Sink: multi-version batches keep one winner per key; a " +
      "winning DELETE does not resurrect an older version") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-scd1-dups").toString)
    val sink = CdcStream.scd1Sink(spark, store, "silver", "dups_t") _
    // one non-deduped batch: 3 versions of K1 (latest wins), 2 of K2
    // (latest is DELETE — the older INSERT must NOT sneak in)
    sink(Seq(
      ev("K1", "INSERT", "2024-03-15 10:00:00", payload = "a1"),
      ev("K1", "UPDATE", "2024-03-15 12:00:00", payload = "a3"),
      ev("K1", "UPDATE", "2024-03-15 11:00:00", payload = "a2"),
      ev("K2", "INSERT", "2024-03-15 10:30:00", payload = "b1"),
      ev("K2", "DELETE", "2024-03-15 11:30:00")).toDS(), 0L)
    val state = store.read(spark, "silver", "dups_t").get
      .as[CdcEvent].collect().map(e => e.key -> e.payload).toMap
    assert(state == Map("K1" -> "a3"))
    // SCD-1 invariant: exactly one row per key
    assert(store.read(spark, "silver", "dups_t").get.count() == 1)
  }

  test("scd1Sink: a NULL-op winner is still upserted (only a literal " +
      "DELETE excludes), and version history is vacuumed per batch") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-scd1-null").toString)
    val sink = CdcStream.scd1Sink(spark, store, "silver", "null_t") _
    sink(Seq(
      ev("K1", "INSERT", "2024-03-15 10:00:00", payload = "a1")).toDS(), 0L)
    // malformed envelope: op=null wins K1 — its update must not be
    // silently dropped by three-valued `op =!= 'DELETE'`
    sink(Seq(
      ev("K1", null, "2024-03-15 11:00:00", payload = "a2")).toDS(), 1L)
    sink(Seq(
      ev("K2", "INSERT", "2024-03-15 11:30:00", payload = "b1")).toDS(), 2L)
    val state = store.read(spark, "silver", "null_t").get
      .as[CdcEvent].collect().map(e => e.key -> e.payload).toMap
    assert(state == Map("K1" -> "a2", "K2" -> "b1"))
    // retention: 3 committed versions, but at most 2 retained on disk
    val vdir = new java.io.File(
      store.versionDir("silver", "null_t", 1)).getParentFile
    assert(vdir.listFiles().count(_.getName.startsWith("v")) <= 2)
  }

  test("scd1Sink: an empty batch over an existing table commits no " +
      "version") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-scd1-empty").toString)
    val sink = CdcStream.scd1Sink(spark, store, "silver", "empty_t") _
    sink(Seq(
      ev("K1", "INSERT", "2024-03-15 10:00:00", payload = "a1")).toDS(), 0L)
    val v = store.currentVersion(spark, "silver", "empty_t")
    // a no-data trigger (the watermark moved, no key changed)
    sink(Seq.empty[CdcEvent].toDS(), 1L)
    assert(store.currentVersion(spark, "silver", "empty_t") == v)
    assert(!new java.io.File(
      store.versionDir("silver", "empty_t", v + 1)).exists)
    assert(store.read(spark, "silver", "empty_t").get.as[CdcEvent]
      .collect().map(e => e.key -> e.payload).toMap == Map("K1" -> "a1"))
  }

  test("scd1Sink evaluates its batch window once per trigger") {
    import org.apache.spark.sql.functions.{col, udf}
    val store = new ModelStore(
      Files.createTempDirectory("graft-scd1-once").toString)
    val sink = CdcStream.scd1Sink(spark, store, "silver", "once_t") _
    sink(Seq(
      ev("K1", "INSERT", "2024-03-15 10:00:00", payload = "a1"),
      ev("K2", "INSERT", "2024-03-15 10:00:00", payload = "b1")).toDS(), 0L)
    // the batch arrives hash-partitioned by key, so the sink's
    // latest-per-key window runs right above the counting UDF with no
    // exchange in between (a reused exchange would hide a re-run), and
    // the UDF taps the window's order column, which every consumer of
    // the winners needs: each evaluation of the window passes each
    // batch row through the UDF once
    val seen = spark.sparkContext.longAccumulator("scd1-batch-rows")
    val tap = udf { (t: Timestamp) => seen.add(1); t }.asNondeterministic()
    val batch = Seq(
      ev("K1", "UPDATE", "2024-03-15 11:00:00", payload = "a2"),
      ev("K2", "DELETE", "2024-03-15 11:00:00"),
      ev("K3", "INSERT", "2024-03-15 11:00:00", payload = "c1")).toDS()
      .repartition(col("key"))
      .withColumn("cdcTimestamp", tap(col("cdcTimestamp"))).as[CdcEvent]
    sink(batch, 1L)
    assert(seen.value == 3L, s"batch rows evaluated ${seen.value} times")
    assert(store.read(spark, "silver", "once_t").get.as[CdcEvent]
      .collect().map(e => e.key -> e.payload).toMap ==
      Map("K1" -> "a2", "K3" -> "c1"))
  }
}
