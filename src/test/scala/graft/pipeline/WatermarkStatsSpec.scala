package graft.pipeline

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ModelStore
import graft.model.{Pipeline, RunMode}

/** The O(1) incremental watermark: models declaring `statsCols` get a
  * commit-time `stat_max_<col>` meta derived from parquet footers, and
  * the watermark gate consumes it instead of scanning `{{ this }}`.
  * Pins: the stat equals the scan truth after every materialization
  * strategy (bootstrap write, pruned merge with linked partitions,
  * plain merge), the stats path and the scan path produce IDENTICAL
  * pipeline results, and a stats-less rewrite tombstones the meta
  * (stale-high watermarks must be impossible — they would silently
  * drop rows). */
class WatermarkStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val clock = Clock(
    Date.valueOf("2024-04-01"), Timestamp.valueOf("2024-04-01 00:00:00"))
  private val models = new ReferenceModels(clock)

  private def store() =
    new ModelStore(Files.createTempDirectory("graft-wmstats").toString)

  private def scanMax(st: ModelStore, layer: String, name: String,
      c: String): Option[String] = {
    val row = st.read(spark, layer, name).get
      .agg(max(col(c)).cast("string")).head()
    if (row.isNullAt(0)) None else Some(row.getString(0))
  }

  test("stat equals the scan truth after bootstrap and pruned merge") {
    val st = store()
    val run1 = new Pipeline(models.all, st, (_, n) => n match {
      case "customers_cdc" => CdcFixtures.customersBatch1()
      case "orders_cdc" => CdcFixtures.ordersBatch1()
    })
    run1.run(spark, RunMode.Bootstrap)
    for (t <- Seq("customers_latest", "orders_cleaned"))
      assert(st.statMax(spark, "silver", t, "last_updated_at") ===
        scanMax(st, "silver", t, "last_updated_at"), t)

    val run2 = new Pipeline(models.all, st, (_, n) => n match {
      case "customers_cdc" => CdcFixtures.customersBatch2()
      case "orders_cdc" => CdcFixtures.ordersBatch2()
    })
    run2.run(spark, RunMode.Incremental)
    // orders_cleaned took the PRUNED merge (partitioned): the stat is
    // derived over fresh AND linked partition dirs
    for (t <- Seq("customers_latest", "orders_cleaned"))
      assert(st.statMax(spark, "silver", t, "last_updated_at") ===
        scanMax(st, "silver", t, "last_updated_at"), t)
  }

  test("stats path ≡ scan path: identical pipeline results") {
    def finalTables(statsOn: Boolean) = {
      val ms =
        if (statsOn) models.all
        else models.all.map(_.copy(statsCols = Nil)) // force scan gate
      val st = store()
      new Pipeline(ms, st, (_, n) => n match {
        case "customers_cdc" => CdcFixtures.customersBatch1()
        case "orders_cdc" => CdcFixtures.ordersBatch1()
      }).run(spark, RunMode.Bootstrap)
      val out = new Pipeline(ms, st, (_, n) => n match {
        case "customers_cdc" => CdcFixtures.customersBatch2()
        case "orders_cdc" => CdcFixtures.ordersBatch2()
      }).run(spark, RunMode.Incremental)
      out.view.mapValues(_.collect().toSet).toMap
    }
    val withStats = finalTables(statsOn = true)
    val withScan = finalTables(statsOn = false)
    assert(withStats.keySet === withScan.keySet)
    for (t <- withStats.keySet) assert(withStats(t) === withScan(t), t)
  }

  test("linked partitions carry the true max through a low-valued merge") {
    val st = store()
    val high = Seq(("a", 1, Timestamp.valueOf("2024-03-20 10:00:00")))
      .toDF("k", "p", "ts")
    st.write(high, "l", "t", partitionBy = Seq("p"),
      statsCols = Seq("ts"))
    // second version touches ONLY partition 2 with an OLDER timestamp;
    // the 2024-03-20 row survives via the linked p=1 dir and the stat
    // must still report it
    val low = Seq(("b", 2, Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("k", "p", "ts")
    st.writeTouchedPartitions(low, "l", "t", partitionBy = Seq("p"),
      statsCols = Seq("ts"))
    assert(st.statMax(spark, "l", "t", "ts") ===
      Some("2024-03-20 10:00:00"))
    assert(st.statMax(spark, "l", "t", "ts") === scanMax(st, "l", "t", "ts"))
  }

  test("an emptied partition drops its entry: the stat can DECREASE") {
    // the backfill-purge case: v2 declares the max-holding partition
    // touched but writes no rows for it — the recorded max must fall
    // to the surviving partition's, never carry the deleted maximum
    val st = store()
    val v1 = Seq(
      ("a", 1, Timestamp.valueOf("2024-03-20 10:00:00")),
      ("b", 2, Timestamp.valueOf("2024-02-01 00:00:00"))).toDF("k", "p", "ts")
    st.write(v1, "l", "t", partitionBy = Seq("p"), statsCols = Seq("ts"))
    assert(st.statMax(spark, "l", "t", "ts") === Some("2024-03-20 10:00:00"))
    st.writeTouchedPartitions(v1.limit(0), "l", "t",
      partitionBy = Seq("p"),
      touchedRows = Some((Seq(1).toDF("p").schema,
        Seq(org.apache.spark.sql.Row(1)))),
      statsCols = Seq("ts"))
    assert(st.statMax(spark, "l", "t", "ts") === Some("2024-02-01 00:00:00"))
    assert(st.statMax(spark, "l", "t", "ts") === scanMax(st, "l", "t", "ts"))
  }

  test("backfill purging the newest span lowers the watermark " +
      "end-to-end (no silent skip)") {
    // THE scenario the exact-stats design exists for: an upstream
    // purge removes the rows holding the table's max watermark via
    // backfill. A running-max (or stale carry-forward) would keep the
    // OLD high-water mark and the next incremental would silently
    // skip every row in the purged span; the per-partition fold must
    // decrease to the surviving max instead.
    val st = store()
    def pipeline(orders: org.apache.spark.sql.DataFrame) =
      new Pipeline(models.all, st, (_, n) => n match {
        case "customers_cdc" => CdcFixtures.customersBatch1()
        case "orders_cdc" => orders
      })
    pipeline(CdcFixtures.ordersBatch1()).run(spark, RunMode.Bootstrap)
    val t = st.read(spark, "silver", "orders_cleaned").get
    val wmRow = t.orderBy(col("last_updated_at").desc)
      .select("order_year", "order_month", "last_updated_at").head()
    val (wy, wm) = (wmRow.getInt(0), wmRow.getInt(1))
    val oldStat = st.statMax(spark, "silver", "orders_cleaned",
      "last_updated_at").get
    // purge: the corrected source has NO rows for the wm partition
    val purgedIds = t.filter(col("order_year") === wy &&
        col("order_month") === wm)
      .select("order_id").collect().map(_.getString(0)).toSet
    pipeline(CdcFixtures.ordersBatch1()
        .filter(!col("order_id").isin(purgedIds.toSeq: _*)))
      .backfill(spark, "orders_cleaned",
        col("order_year") === wy && col("order_month") === wm)
    val newStat = st.statMax(spark, "silver", "orders_cleaned",
      "last_updated_at")
    assert(newStat === scanMax(st, "silver", "orders_cleaned",
      "last_updated_at"))
    assert(newStat.get < oldStat) // strictly lowered, not carried
  }

  test("undeclared writes tombstone stats; a declared rewrite " +
      "re-derives them") {
    val st = store()
    val d1 = Seq(("a", Timestamp.valueOf("2024-03-20 10:00:00")))
      .toDF("k", "ts")
    st.write(d1, "l", "t", statsCols = Seq("ts"))
    assert(st.statMax(spark, "l", "t", "ts").isDefined)
    // a write that does not declare statsCols must not inherit the old
    // maxima (it may have changed the data arbitrarily)
    st.write(Seq(("b", Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "ts"), "l", "t")
    assert(st.statMax(spark, "l", "t", "ts") === None)
    // a rewrite of the same data that declares the column re-derives it
    st.write(st.read(spark, "l", "t").get, "l", "t", statsCols = Seq("ts"))
    assert(st.statMax(spark, "l", "t", "ts") === Some("2024-01-01 00:00:00"))
  }

  test("NARROWING statsCols tombstones the dropped column's meta") {
    // declaring a subset must not let the commit's meta carry-forward
    // preserve a stale (possibly stale-HIGH) max for the dropped
    // column — the same silent-skip hazard as a stats-less rewrite
    val st = store()
    val v1 = Seq(("a", Timestamp.valueOf("2024-03-20 10:00:00"), 9L))
      .toDF("k", "ts", "n")
    st.write(v1, "l", "t", statsCols = Seq("ts", "n"))
    assert(st.statMax(spark, "l", "t", "ts").isDefined)
    assert(st.statMax(spark, "l", "t", "n") === Some("9"))
    // v2 drops "n" from the declaration AND lowers its data max
    st.write(Seq(("b", Timestamp.valueOf("2024-03-21 10:00:00"), 1L))
      .toDF("k", "ts", "n"), "l", "t", statsCols = Seq("ts"))
    assert(st.statMax(spark, "l", "t", "ts") ===
      Some("2024-03-21 10:00:00"))
    assert(st.statMax(spark, "l", "t", "n") === None) // tombstoned
  }

  test("a stats-less rewrite tombstones the meta (no stale-high carry)") {
    val st = store()
    val d1 = Seq(("a", Timestamp.valueOf("2024-03-20 10:00:00")))
      .toDF("k", "ts")
    st.write(d1, "l", "t", statsCols = Seq("ts"),
      meta = Map("stream_batch_id" -> "7")) // unrelated key, see below
    assert(st.statMax(spark, "l", "t", "ts").isDefined)
    // rewrite as INT96 (no parquet stats): were the old meta carried
    // forward, a shrunken table would keep the old (now possibly
    // stale-HIGH) watermark and the gate would silently skip rows
    val prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try st.write(
      Seq(("b", Timestamp.valueOf("2024-02-01 00:00:00"))).toDF("k", "ts"),
      "l", "t", statsCols = Seq("ts"))
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
    assert(st.statMax(spark, "l", "t", "ts") === None)
    // the tombstone is an explicit EMPTY value (not a deleted key) —
    // the encoding statMax's nonEmpty filter relies on
    assert(st.meta(spark, "l", "t", "stat_max_ts") === Some(""))
    // ...while a genuinely UNRELATED key still carries forward (the
    // exactly-once marker class the carry-forward exists to protect)
    assert(st.meta(spark, "l", "t", "stream_batch_id") === Some("7"))
  }
}
