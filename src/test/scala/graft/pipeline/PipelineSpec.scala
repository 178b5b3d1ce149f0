package graft.pipeline

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ModelStore
import graft.model.{Pipeline, RunMode}

/** End-to-end medallion pipeline: bootstrap + incremental round over
  * CDC fixtures, asserting the reference's semantics (SURVEY.md §2.9,
  * §5.4): latest-version dedup with tie-break, DELETE exclusion,
  * first-seen preservation, late-row drop, merge upsert, tag
  * selection, dim full-recompute. */
class PipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val clock = Clock(
    Date.valueOf("2024-04-01"), Timestamp.valueOf("2024-04-01 00:00:00"))
  private val models = new ReferenceModels(clock)

  private def newPipeline(sources: Map[String, DataFrame])
      : (Pipeline, ModelStore) = {
    val store = new ModelStore(
      Files.createTempDirectory("graft-pipe").toString)
    val p = new Pipeline(models.all, store,
      (_, name) => sources(name),
      vars = Map("ingest_batch_date" -> "1900-01-01"))
    (p, store)
  }

  private def byKey(df: DataFrame, key: String): Map[String, Row] = {
    val rows = df.collect()
    val m = rows.map(r => r.getString(r.fieldIndex(key)) -> r).toMap
    // toMap silently keeps one copy of a duplicated key, so without
    // this every keySet/per-key assertion downstream is blind to the
    // classic merge failure (a key's row inserted without removing
    // the old one) — enforce the uniqueKey invariant at the helper
    assert(m.size == rows.length,
      s"duplicate '$key' rows: ${rows.length} rows, ${m.size} keys")
    m
  }

  test("bootstrap: dedup, tie-break, delete exclusion, cleaning, dim") {
    val (p, _) = newPipeline(Map(
      "customers_cdc" -> CdcFixtures.customersBatch1(),
      "orders_cdc" -> CdcFixtures.ordersBatch1()))
    val out = p.run(spark, RunMode.Bootstrap)

    val cust = byKey(out("customers_latest"), "customer_id")
    // C3 deleted, others present
    assert(cust.keySet == Set("C1", "C2", "C5"))
    // C1: latest version (invalid email) won
    assert(cust("C1").getAs[String]("email") == "not-an-email")
    assert(!cust("C1").getAs[Boolean]("is_email_valid"))
    // country uppercased, full_name concatenated
    assert(cust("C1").getAs[String]("country") == "USA")
    assert(cust("C1").getAs[String]("full_name") == "Ada Lovelace")
    // C2 short phone invalid
    assert(!cust("C2").getAs[Boolean]("is_phone_valid"))
    // C5: equal ts, later _ingested_at wins
    assert(cust("C5").getAs[String]("email") == "late@example.com")
    // dead-flag quirk: is_deleted always false in output
    assert(out("customers_latest").collect()
      .forall(!_.getAs[Boolean]("is_deleted")))

    val ord = byKey(out("orders_cleaned"), "order_id")
    assert(ord.keySet == Set("O1", "O2", "O3", "O5"))   // O4 deleted
    // synonym canonicalization
    assert(ord("O1").getAs[String]("order_status") == "CONFIRMED")
    assert(ord("O1").getAs[String]("payment_status") == "PAID")
    assert(ord("O1").getAs[String]("payment_method") == "CREDIT_CARD")
    assert(ord("O1").getAs[String]("shipping_method") == "STANDARD")
    assert(ord("O1").getAs[String]("region") == "NORTH")
    // tax capped at 20% of raw total
    assert(ord("O1").getAs[Double]("tax_amount") == 20.0)
    assert(ord("O1").getAs[Double]("net_revenue") == 80.0)
    assert(ord("O1").getAs[Boolean]("is_valid_order"))
    // negative total → 0 → invalid
    assert(ord("O2").getAs[Double]("order_total") == 0.0)
    assert(!ord("O2").getAs[Boolean]("is_valid_order"))
    // missing customer → invalid despite clean money
    assert(!ord("O3").getAs[Boolean]("is_valid_order"))
    // overflow capped, holiday window, season
    assert(ord("O5").getAs[Double]("order_total") == 50000.0)
    assert(ord("O5").getAs[String]("holiday_period") == "BLACK_FRIDAY")
    assert(ord("O5").getAs[String]("season") == "FALL")
    assert(ord("O5").getAs[String]("order_status") == "DELIVERED")

    val dim = byKey(out("dim_customer"), "customer_id")
    assert(dim.keySet == Set("C1", "C2", "C5"))
    // C1: O1 (net 80) + O5 (net 50000-10=49990) valid
    assert(dim("C1").getAs[Long]("lifetime_orders") == 2L)
    assert(dim("C1").getAs[Double]("lifetime_value") == 50070.0)
    assert(dim("C1").getAs[Long]("completed_orders") == 1L)   // O5
    assert(dim("C1").getAs[String]("customer_tier") == "BRONZE") // <20 orders... 50070>=5000 but orders<20 → not PLAT; >=2000 but <10 → not GOLD; >=500 but <5 → not SILVER
    assert(dim("C1").getAs[Int]("monetary_score") == 5)
    assert(dim("C1").getAs[Int]("frequency_score") == 2)
    // C2: no valid orders → PROSPECT defaults
    assert(dim("C2").getAs[Long]("lifetime_orders") == 0L)
    assert(dim("C2").getAs[String]("enhanced_segment") == "PROSPECT")
    assert(dim("C2").getAs[Int]("days_since_last_order") == 9999)
    // data quality: C1 invalid email (0.4 lost), valid phone+address
    assert(math.abs(dim("C1").getAs[Double]("data_quality_score") - 0.6)
      < 1e-9)
    // geographic mapping
    assert(dim("C1").getAs[String]("region") == "North America")
  }

  test("incremental: watermark gate, late drop, first-seen, merge") {
    val sources = scala.collection.mutable.Map(
      "customers_cdc" -> CdcFixtures.customersBatch1(),
      "orders_cdc" -> CdcFixtures.ordersBatch1())
    val (p, store) = newPipeline(sources.toMap)
    p.run(spark, RunMode.Bootstrap)

    // second round with new batches
    val p2 = new Pipeline(models.all, store,
      (_, name) => name match {
        case "customers_cdc" => CdcFixtures.customersBatch2()
        case "orders_cdc" => CdcFixtures.ordersBatch2()
      },
      vars = Map("ingest_batch_date" -> "1900-01-01"))
    val out2 = p2.run(spark, RunMode.Incremental)

    val cust = byKey(out2("customers_latest"), "customer_id")
    assert(cust.keySet == Set("C1", "C2", "C4", "C5"))
    // C1 updated, first_seen preserved from bootstrap (11:00 version)
    assert(cust("C1").getAs[String]("city") == "Chicago")
    assert(cust("C1").getAs[Timestamp]("first_seen_at") ==
      Timestamp.valueOf("2024-03-15 11:00:00"))
    assert(cust("C1").getAs[Timestamp]("last_updated_at") ==
      Timestamp.valueOf("2024-03-15 13:00:00"))
    // late row for C2 dropped → email unchanged
    assert(cust("C2").getAs[String]("email") == "grace@example.com")
    // new INSERT gets its own first_seen
    assert(cust("C4").getAs[Timestamp]("first_seen_at") ==
      Timestamp.valueOf("2024-03-15 14:00:00"))

    val ord = byKey(out2("orders_cleaned"), "order_id")
    assert(ord.keySet == Set("O1", "O2", "O3", "O5", "O6"))
    // O1 merged to SHIPPED, first_seen preserved
    assert(ord("O1").getAs[String]("order_status") == "SHIPPED")
    assert(ord("O1").getAs[Timestamp]("first_seen_at") ==
      Timestamp.valueOf("2024-03-16 10:30:00"))
    assert(ord("O1").getAs[Double]("tax_amount") == 12.0)

    // dim recomputed over merged state: C4 now present via O6
    val dim = byKey(out2("dim_customer"), "customer_id")
    assert(dim("C4").getAs[Long]("lifetime_orders") == 1L)
    assert(dim("C4").getAs[String]("enhanced_segment") == "NEW")

    // idempotence: a third run with the same batches changes nothing
    // (every row is ≤ the watermark now)
    val before = out2("customers_latest").collect().toSet
    val out3 = p2.run(spark, RunMode.Incremental)
    assert(out3("customers_latest").collect().toSet == before)
  }

  test("incremental merge rewrites only touched partitions") {
    val sources = Map(
      "customers_cdc" -> CdcFixtures.customersBatch1(),
      "orders_cdc" -> CdcFixtures.ordersBatch1())
    val (p, store) = newPipeline(sources)
    p.run(spark, RunMode.Bootstrap)

    def filesOf(v: Int, part: String): Set[String] = {
      val dir = new java.io.File(
        store.versionDir("silver", "orders_cleaned", v), part)
      Option(dir.listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val v1 = store.currentVersion(spark, "silver", "orders_cleaned")
    val untouchedBefore = filesOf(v1, "order_year=2024/order_month=11")
    val touchedBefore = filesOf(v1, "order_year=2024/order_month=3")
    assert(untouchedBefore.nonEmpty && touchedBefore.nonEmpty)

    // batch2 touches only 2024-03 (O1 update, O6 insert)
    val p2 = new Pipeline(models.all, store,
      (_, name) => name match {
        case "customers_cdc" => CdcFixtures.customersBatch2()
        case "orders_cdc" => CdcFixtures.ordersBatch2()
      },
      vars = Map("ingest_batch_date" -> "1900-01-01"))
    val out2 = p2.run(spark, RunMode.Incremental)

    val v2 = store.currentVersion(spark, "silver", "orders_cleaned")
    assert(v2 == v1 + 1)
    // untouched partition carried over file-for-file (linked, not
    // rewritten: a rewrite would mint fresh part-file UUIDs)
    assert(filesOf(v2, "order_year=2024/order_month=11")
      == untouchedBefore)
    // touched partition was rewritten with fresh files
    val touchedAfter = filesOf(v2, "order_year=2024/order_month=3")
    assert(touchedAfter.nonEmpty && touchedAfter
      .intersect(touchedBefore).isEmpty)
    // and the merged table is still complete
    assert(byKey(out2("orders_cleaned"), "order_id").keySet
      == Set("O1", "O2", "O3", "O5", "O6"))
  }

  test("pruned merge falls back to full rewrite when the stored " +
      "layout doesn't match the model's partitioning") {
    // v1 materialized WITHOUT partitioning (e.g. the partition scheme
    // was added to the model later): a pruned link-based write against
    // that layout would silently drop the untouched rows — the guard
    // must route through the full rewrite instead
    val unpartitioned = models.ordersCleaned.copy(partitionBy = Nil)
    val store = new ModelStore(
      Files.createTempDirectory("graft-layout").toString)
    new Pipeline(Seq(models.customersLatest, unpartitioned), store,
      (_, name) => name match {
        case "customers_cdc" => CdcFixtures.customersBatch1()
        case "orders_cdc" => CdcFixtures.ordersBatch1()
      }).run(spark, RunMode.Bootstrap)
    assert(!store.hasPartitionLayout(spark, "silver", "orders_cleaned",
      Seq("order_year", "order_month")))

    val p2 = new Pipeline(Seq(models.customersLatest,
        models.ordersCleaned), store,
      (_, name) => name match {
        case "customers_cdc" => CdcFixtures.customersBatch2()
        case "orders_cdc" => CdcFixtures.ordersBatch2()
      },
      vars = Map("ingest_batch_date" -> "1900-01-01"))
    val out = p2.run(spark, RunMode.Incremental)
    // the 2024-11 order (O5, untouched by batch2) must survive
    assert(byKey(out("orders_cleaned"), "order_id").keySet
      == Set("O1", "O2", "O3", "O5", "O6"))
    // and the rewrite left the table in the model's partition layout,
    // so the NEXT incremental run can prune
    assert(store.hasPartitionLayout(spark, "silver", "orders_cleaned",
      Seq("order_year", "order_month")))
    // a layout DEEPER than the declared scheme must fail too: a
    // PREFIX of the stored columns passing the check would route the
    // pruned write into a version mixing two partition depths
    // ("Conflicting directory structures" on the next read)
    assert(!store.hasPartitionLayout(spark, "silver", "orders_cleaned",
      Seq("order_year")))
  }

  test("empty incremental batch is a no-op commit: fully-gated feeds " +
      "bump no version, change no data") {
    val sources = Map(
      "customers_cdc" -> CdcFixtures.customersBatch1(),
      "orders_cdc" -> CdcFixtures.ordersBatch1())
    val (p, store) = newPipeline(sources)
    p.run(spark, RunMode.Bootstrap)
    val vCust = store.currentVersion(spark, "silver", "customers_latest")
    val vOrd = store.currentVersion(spark, "silver", "orders_cleaned")
    val vDim = store.currentVersion(spark, "gold", "dim_customer")
    val custBefore = byKey(
      store.read(spark, "silver", "customers_latest").get, "customer_id")
    // re-deliver batch1: every row is ≤ the stored watermark except
    // the DELETE rows, which the models filter — both silver updates
    // are EMPTY, so a MERGE with no source touches no files (Delta's
    // no-op commit): no version churn, identical data. dim_customer
    // full-recomputes (ungated) and must still write normally.
    val p2 = new Pipeline(models.all, store, (_, name) => sources(name),
      vars = Map("ingest_batch_date" -> "1900-01-01"))
    val out2 = p2.run(spark, RunMode.Incremental)
    assert(store.currentVersion(spark, "silver", "customers_latest")
      == vCust)                      // full-merge arm skipped
    assert(store.currentVersion(spark, "silver", "orders_cleaned")
      == vOrd)                       // pruned arm skipped (no touched)
    assert(store.currentVersion(spark, "gold", "dim_customer")
      == vDim + 1)                   // ungated recompute still writes
    assert(byKey(out2("customers_latest"), "customer_id").keySet
      == custBefore.keySet)
  }

  test("append strategy (no uniqueKey) accumulates rows across runs") {
    val appendModel = graft.model.ModelDef(
      name = "events_log", layer = "silver",
      build = ctx => ctx.source("bronze", "customers_cdc")
        .select("customer_id", "_cdc_timestamp"))
    val store = new ModelStore(
      Files.createTempDirectory("graft-append").toString)
    val p = new Pipeline(Seq(appendModel), store,
      (_, _) => CdcFixtures.customersBatch1())
    p.run(spark, RunMode.Bootstrap)
    val n1 = store.read(spark, "silver", "events_log").get.count()
    p.run(spark, RunMode.Incremental)    // append: same batch again
    val n2 = store.read(spark, "silver", "events_log").get.count()
    assert(n2 == 2 * n1)
  }

  test("post-hooks run on materialized output; table comment persisted") {
    val hookCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val hooked = models.customersLatest.copy(
      postHooks = Seq(df => hookCounts += df.count()))
    val store = new ModelStore(
      Files.createTempDirectory("graft-hooks").toString)
    val p = new Pipeline(Seq(hooked), store,
      (_, _) => CdcFixtures.customersBatch1())
    p.run(spark, RunMode.Bootstrap)
    assert(hookCounts.toSeq == Seq(3L))   // C1, C2, C5
    assert(store.comment(spark, "silver", "customers_latest")
      .contains("Latest customer snapshot (SCD Type-1) from CDC feed"))
  }

  test("pruned merge keeps existing rows of a NULL-valued partition") {
    // A NULL partition value must select its existing rows with a
    // null-safe compare: `=== lit(null)` is never true, which would
    // silently drop every untouched row of the NULL partition.
    import spark.implicits._
    val store = new ModelStore(
      Files.createTempDirectory("graft-nullpart").toString)
    def model(df: DataFrame) = graft.model.ModelDef(
      name = "t", layer = "silver", uniqueKey = Some("k"),
      partitionBy = Seq("p"), build = _ => df)
    val noSrc = (_: String, _: String) => fail("no sources")
    val noRef = (_: String) => fail("no refs")
    val boot = Seq(
      ("k1", Option.empty[String], 1L),
      ("k3", Option.empty[String], 3L),
      ("k2", Option("a"), 2L)).toDF("k", "p", "v")
    Pipeline.materializeModel(spark, store, model(boot),
      RunMode.Bootstrap, noSrc, noRef, Map.empty)
    // incremental batch updates ONLY k1, still in the NULL partition
    val upd = Seq(("k1", Option.empty[String], 10L)).toDF("k", "p", "v")
    Pipeline.materializeModel(spark, store, model(upd),
      RunMode.Incremental, noSrc, noRef, Map.empty)
    val out = store.read(spark, "silver", "t").get.collect()
      .map(r => r.getAs[String]("k") ->
        ((Option(r.getAs[String]("p")), r.getAs[Long]("v"))))
      .toMap
    assert(out == Map(
      "k1" -> ((None, 10L)),   // merged
      "k3" -> ((None, 3L)),    // untouched row of the NULL partition
      "k2" -> ((Some("a"), 2L))))
  }

  test("pruned merge handles a key MIGRATING between partitions: the " +
      "stale row is removed from its old partition (Delta MERGE parity)") {
    import spark.implicits._
    val store = new ModelStore(
      Files.createTempDirectory("graft-migrate").toString)
    def model(df: DataFrame) = graft.model.ModelDef(
      name = "dim", layer = "gold", uniqueKey = Some("k"),
      partitionBy = Seq("country"), build = _ => df)
    val noSrc = (_: String, _: String) => fail("no sources")
    val noRef = (_: String) => fail("no refs")
    // X is the ONLY UK row; Y anchors an untouched partition
    val boot = Seq(("X", "UK", 1L), ("Y", "FR", 2L), ("Z", "US", 3L))
      .toDF("k", "country", "v")
    Pipeline.materializeModel(spark, store, model(boot),
      RunMode.Bootstrap, noSrc, noRef, Map.empty)
    // X's country changes UK → US; UK is absent from the updates'
    // partitions, so without key-residence discovery the carried-over
    // UK dir would resurrect the stale X
    val upd = Seq(("X", "US", 10L)).toDF("k", "country", "v")
    Pipeline.materializeModel(spark, store, model(upd),
      RunMode.Incremental, noSrc, noRef, Map.empty)
    val out = store.read(spark, "gold", "dim").get.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("country"),
        r.getAs[Long]("v"))).toSet
    assert(out == Set(("X", "US", 10L), ("Y", "FR", 2L), ("Z", "US", 3L)))
    // uniqueKey invariant: exactly one X
    assert(store.read(spark, "gold", "dim").get
      .filter(org.apache.spark.sql.functions.col("k") === "X")
      .count() == 1)
    // the emptied UK partition dir is gone from the new version
    val v = store.currentVersion(spark, "gold", "dim")
    assert(!new java.io.File(
      store.versionDir("gold", "dim", v) + "/country=UK").exists())
    // and the untouched FR partition carried over by link
    val prev = store.versionDir("gold", "dim", v - 1) + "/country=FR"
    val cur = store.versionDir("gold", "dim", v) + "/country=FR"
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(parts(prev) == parts(cur))
  }

  test("pruned merge: a NULL-KEY row migrating between partitions is " +
      "replaced, not duplicated (null-safe residence discovery)") {
    import spark.implicits._
    val store = new ModelStore(
      Files.createTempDirectory("graft-nullmig").toString)
    def model(df: DataFrame) = graft.model.ModelDef(
      name = "t", layer = "s", uniqueKey = Some("k"),
      partitionBy = Seq("p"), build = _ => df)
    val noSrc = (_: String, _: String) => fail("no sources")
    val noRef = (_: String) => fail("no refs")
    val boot = Seq((Option("k1"), "UK", 1L),
      (Option.empty[String], "UK", 2L), (Option("k2"), "FR", 3L))
      .toDF("k", "p", "v")
    Pipeline.materializeModel(spark, store, model(boot),
      RunMode.Bootstrap, noSrc, noRef, Map.empty)
    // the NULL-key row moves UK → US; nothing else touches UK — an
    // equality residence join would never find its old partition and
    // the carried-over UK dir would resurrect the stale NULL row
    val upd = Seq((Option.empty[String], "US", 20L)).toDF("k", "p", "v")
    Pipeline.materializeModel(spark, store, model(upd),
      RunMode.Incremental, noSrc, noRef, Map.empty)
    val out = store.read(spark, "s", "t").get.collect()
      .map(r => (Option(r.getAs[String]("k")), r.getAs[String]("p"),
        r.getAs[Long]("v"))).toSet
    assert(out == Set((Some("k1"), "UK", 1L), (Some("k2"), "FR", 3L),
      (None, "US", 20L)))
  }

  test("tag selection runs only the selected subtree") {
    val (p, store) = newPipeline(Map(
      "customers_cdc" -> CdcFixtures.customersBatch1(),
      "orders_cdc" -> CdcFixtures.ordersBatch1()))
    p.run(spark, RunMode.Bootstrap)
    val goldOnly = p.run(spark, RunMode.Incremental,
      selectTags = Some(Set("gold")))
    assert(goldOnly.keySet == Set("dim_customer"))
    // silver untouched, gold rebuilt from stored silver
    assert(store.read(spark, "gold", "dim_customer").get.count() == 3)
  }

  test("catalog: lineage + live store state, one row per model") {
    val (p, _) = newPipeline(Map(
      "customers_cdc" -> CdcFixtures.customersBatch1(),
      "orders_cdc" -> CdcFixtures.ordersBatch1()))
    p.run(spark, RunMode.Bootstrap)
    // driver-side metadata only: store reads take no schema job
    assert(graft.JobCount(spark)(p.catalog(spark)) == 0)
    val cat = p.catalog(spark).collect()
      .map(r => r.getAs[String]("model") -> r).toMap
    assert(cat.keySet ==
      Set("customers_latest", "orders_cleaned", "dim_customer"))
    val oc = cat("orders_cleaned")
    def seq(r: org.apache.spark.sql.Row, c: String): Seq[String] =
      r.getAs[scala.collection.Seq[String]](c).toSeq
    assert(seq(oc, "deps") == Seq("customers_latest"))
    assert(oc.getAs[String]("unique_key") == "order_id")
    assert(seq(oc, "partition_by") == Seq("order_year", "order_month"))
    assert(seq(oc, "stats_cols") == Seq("last_updated_at"))
    assert(oc.getAs[Long]("current_version") == 1L)
    assert(seq(oc, "columns").contains("order_id:string"))
    assert(seq(cat("dim_customer"), "deps").toSet ==
      Set("customers_latest", "orders_cleaned"))
  }

  test("a failing model skips dependents but independent subtrees " +
      "still run (dbt semantics)") {
    // DAG: a (ok), boom (throws), c -> boom (must SKIP), d -> a (ok).
    // dbt continues independent subtrees on a model error and marks
    // downstream SKIP; a 6-hour DAG must not lose unrelated work.
    import graft.model.{BuildCtx, ModelDef}
    import org.apache.spark.sql.functions.lit
    def leaf(n: String) = ModelDef(name = n, layer = "l",
      build = (_: BuildCtx) =>
        spark.range(3).withColumn("src", lit(n)))
    val boom = ModelDef(name = "boom", layer = "l",
      build = (_: BuildCtx) => sys.error("synthetic model failure"))
    val c = ModelDef(name = "c", layer = "l", deps = Seq("boom"),
      build = (ctx: BuildCtx) => ctx.ref("boom"))
    val d = ModelDef(name = "d", layer = "l", deps = Seq("a"),
      build = (ctx: BuildCtx) => ctx.ref("a"))
    val store = new ModelStore(
      Files.createTempDirectory("graft-dagfail").toString)
    val p = new Pipeline(Seq(leaf("a"), boom, c, d), store,
      (_, n) => sys.error(s"no source $n"))

    val report = p.runReport(spark, RunMode.Bootstrap)
    assert(report.failed == Seq("boom"))
    assert(report.skipped == Seq("c"))
    assert(report.results.keySet == Set("a", "d"))
    assert(report.status("d") == Pipeline.Succeeded)
    // failed/skipped models committed nothing; survivors did
    assert(store.read(spark, "l", "boom").isEmpty)
    assert(store.read(spark, "l", "c").isEmpty)
    assert(store.read(spark, "l", "d").get.count() == 3)
    // run() reports the same outcome as one loud error AFTER the
    // whole runnable DAG completed
    val err = intercept[RuntimeException] {
      p.run(spark, RunMode.Bootstrap)
    }
    assert(err.getMessage.contains("boom"))
    assert(err.getMessage.contains("skipped downstream: c"))

    // transitive skip: e -> c -> boom also skips, naming its OWN
    // unmet dependency
    val e = ModelDef(name = "e", layer = "l", deps = Seq("c"),
      build = (ctx: BuildCtx) => ctx.ref("c"))
    val p2 = new Pipeline(Seq(leaf("a"), boom, c, d, e), store,
      (_, n) => sys.error(s"no source $n"))
    val r2 = p2.runReport(spark, RunMode.Bootstrap)
    assert(r2.status("e") == Pipeline.SkippedDep("c"))

    // dbt retry: with the failure fixed, retrying the prior report
    // re-runs ONLY boom + its skipped dependents; the succeeded
    // models are not re-materialized (their versions are untouched)
    val aVersion = store.currentVersion(spark, "l", "a")
    val fixed = boom.copy(build = (_: BuildCtx) =>
      spark.range(1).withColumnRenamed("id", "k"))
    val p3 = new Pipeline(Seq(leaf("a"), fixed, c, d, e), store,
      (_, n) => sys.error(s"no source $n"))
    val r3 = p3.retry(spark, r2, RunMode.Bootstrap)
    assert(r3.status.keySet == Set("boom", "c", "e"))
    assert(r3.failed.isEmpty && r3.skipped.isEmpty)
    assert(store.read(spark, "l", "c").get.count() == 1)
    assert(store.currentVersion(spark, "l", "a") == aVersion)
  }
}
