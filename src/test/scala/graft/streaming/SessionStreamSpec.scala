package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.{ModelStore, Tables}

/** Event row for the MemoryStream feed (top-level: Spark can't build
  * an encoder for a class nested inside the suite). */
case class SEv(user_id: Option[Long], ts: Timestamp,
    event_id: Option[Long], value: Option[Double])

/** Batch parity for the streaming sessionization sink: the REAL events
  * table fed through micro-batches must land, after the watermark
  * drains, on exactly q17_sessionize's per-user answer. */
class SessionStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val Dir = "/root/testdata/sf0.001"

  test("drained stream-fed session table rolls up to the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.load(spark, Dir, "events")
      .select("user_id", "ts", "event_id", "value").as[SEv]
      .collect().sortBy(_.ts.getTime)
    assert(events.nonEmpty)
    // time-ordered halves: batch 2 starts at batch 1's max event time,
    // so nothing in it is behind the advanced watermark (sessions that
    // straddle the cut exercise cross-batch window merging)
    val (b1, b2) = events.splitAt(events.length / 2)
    val sentinel = SEv(Some(-999L),
      new Timestamp(events.last.ts.getTime + 100L * 86400 * 1000),
      Some(-1L), Some(0.0))

    val root = Files.createTempDirectory("graft-sessions").toString
    val store = new ModelStore(root)
    val input = MemoryStream[SEv]
    val query = SessionStream.closedSessions(input.toDF())
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$root/_ckpt")
      .foreachBatch(SessionStream.sessionSink(spark, store,
        "gold", "sessions") _)
      .start()
    try {
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()
      // far-future sentinel pushes the watermark past every real
      // session's close — the drain
      input.addData(Seq(sentinel)); query.processAllAvailable()
    } finally query.stop()

    val stored = store.read(spark, "gold", "sessions").get
      .filter(col("user_id") =!= -999L)
    val got = SessionStream.userRollup(stored)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    val expect = graft.queries.RefQueries.q17Sessionize.build(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got.size == expect.size)
    assert(got == expect)
  }

  test("mid-stream reads see only CLOSED sessions; empty triggers " +
      "commit no version") {
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, t: String, id: Long): SEv =
      SEv(Some(u), Timestamp.valueOf(t), Some(id), Some(10.0))
    val root = Files.createTempDirectory("graft-sessions2").toString
    val store = new ModelStore(root)
    val input = MemoryStream[SEv]
    val query = SessionStream.closedSessions(input.toDF(),
        watermarkDelay = "0 seconds")
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$root/_ckpt")
      .foreachBatch(SessionStream.sessionSink(spark, store,
        "gold", "s") _)
      .start()
    try {
      // one session per user; u=1 closes when u=2's later event moves
      // the watermark past its gap, u=2's own stays open
      input.addData(Seq(
        ev(1, "2024-03-15 10:00:00", 1), ev(1, "2024-03-15 10:10:00", 2)))
      query.processAllAvailable()
      input.addData(Seq(ev(2, "2024-03-16 12:00:00", 3)))
      query.processAllAvailable()
      input.addData(Seq(ev(2, "2024-03-16 12:01:00", 4)))
      query.processAllAvailable()
      val mid = store.read(spark, "gold", "s")
      assert(mid.isDefined)
      val rows = mid.get.select("user_id", "n_events").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == Map(1L -> 2L)) // u=2's session still open
      // idle trigger: no new store version
      val vBefore = store.currentVersion(spark, "gold", "s")
      input.addData(Seq(ev(2, "2024-03-16 12:02:00", 5)))
      query.processAllAvailable()
      assert(store.currentVersion(spark, "gold", "s") == vBefore)
    } finally query.stop()
  }

  test("sessionSink onto a pre-existing unpartitioned table keeps its " +
      "rows") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-sessions3").toString)
    def session(u: Long, start: String, end: String, n: Long) =
      (u, Timestamp.valueOf(start), Timestamp.valueOf(end), n, n * 1000L)
    val cols = Seq("user_id", "session_start", "session_end", "n_events",
      "value_cents")
    // batch-written history: no batch_id column, no partitions
    store.write(Seq(session(7, "2024-03-01 10:00:00",
      "2024-03-01 10:30:00", 3)).toDF(cols: _*), "gold", "s")
    val sink = SessionStream.sessionSink(spark, store, "gold", "s") _
    sink(Seq(session(1, "2024-03-15 10:00:00", "2024-03-15 10:40:00", 2))
      .toDF(cols: _*), 0L)
    sink(Seq(session(2, "2024-03-16 12:00:00", "2024-03-16 12:30:00", 1))
      .toDF(cols: _*), 1L)
    val users = store.read(spark, "gold", "s").get
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(users == Set(7L, 1L, 2L))
  }
}
