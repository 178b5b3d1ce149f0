package graft.io

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, TestSpark}

/** Versioned store semantics: pointer swap, time travel, vacuum. */
class ModelStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("writes create versions; read follows the pointer; time travel") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-store").toString)
    store.write(Seq((1, "a")).toDF("k", "v"), "silver", "t")
    store.write(Seq((1, "b"), (2, "c")).toDF("k", "v"), "silver", "t")

    assert(store.currentVersion(spark, "silver", "t") == 2)
    assert(store.read(spark, "silver", "t").get.count() == 2)
    // time travel to v1
    val v1 = store.readVersion(spark, "silver", "t", 1)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(v1 == Set((1, "a")))
  }

  test("touchedRelPaths matches Spark's real partitioned-writer layout") {
    // Representative renderable values, including escaping-sensitive
    // specials, the empty string and NULL (both → DEFAULT partition
    // name), negative ints and dates. Write through the REAL writer,
    // list the dirs it produced, and require the driver-side rendering
    // to be byte-identical.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("i", IntegerType),
      StructField("d", DateType)))
    val rows = Seq(
      Row("plain", 7, java.sql.Date.valueOf("2001-09-01")),
      Row("a b:c=d/e%f#g", -3, java.sql.Date.valueOf("1999-12-31")),
      Row("", 0, java.sql.Date.valueOf("2000-01-01")),
      Row(null, 42, java.sql.Date.valueOf("2024-02-29")))
    val dir = Files.createTempDirectory("graft-relpaths").toString + "/t"
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      .withColumn("payload", org.apache.spark.sql.functions.lit(1))
      .write.partitionBy("s", "i", "d").parquet(dir)
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path, depth: Int): Seq[String] =
      if (depth == 0) Seq("")
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => walk(st.getPath, depth - 1).map(rest =>
          if (rest.isEmpty) st.getPath.getName
          else s"${st.getPath.getName}/$rest"))
    val actual = walk(base, 3).toSet
    val rendered = ModelStore.touchedRelPaths(schema, rows,
      Seq("s", "i", "d"))
    assert(rendered.contains(actual))
    // unsupported types (timestamp) must route to the writer fallback
    val tsSchema = StructType(Seq(StructField("t", TimestampType)))
    assert(ModelStore.touchedRelPaths(tsSchema,
      Seq(Row(java.sql.Timestamp.valueOf("2001-09-01 00:00:00"))),
      Seq("t")).isEmpty)
  }

  test("vacuum drops old versions, keeps the current") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-store2").toString)
    (1 to 4).foreach(i =>
      store.write(Seq(i).toDF("v"), "silver", "t"))
    store.vacuum(spark, "silver", "t", keepLast = 1)
    assert(store.read(spark, "silver", "t").get
      .head().getInt(0) == 4)
    intercept[Exception] {
      store.readVersion(spark, "silver", "t", 3).collect()
    }
  }

  test("pipeline retention vacuums old versions automatically") {
    import graft.model.{ModelDef, Pipeline, RunMode}
    val store = new ModelStore(
      Files.createTempDirectory("graft-retain").toString)
    val model = ModelDef(name = "t", layer = "silver",
      build = ctx => ctx.source("bronze", "src"))
    val p = new Pipeline(Seq(model), store, (_, _) => Seq(1).toDF("v"))
    (1 to 3).foreach(_ => p.run(spark, RunMode.Incremental))
    assert(store.currentVersion(spark, "silver", "t") == 3)
    intercept[Exception] {
      store.readVersion(spark, "silver", "t", 1).collect()
    }
    Seq(2, 3).foreach(v =>
      assert(store.readVersion(spark, "silver", "t", v).count() > 0))
  }

  test("vacuum works from one listing: a version gap is tolerated, " +
      "every old version goes, a newer in-flight version survives") {
    val root = Files.createTempDirectory("graft-store-gap").toString
    val store = new ModelStore(root)
    (1 to 4).foreach(i =>
      store.write(Seq(i).toDF("v"), "silver", "t"))
    def dirs: Seq[String] =
      Option(new java.io.File(s"$root/silver/t").listFiles).toSeq
        .flatten.map(_.getName).filter(_.matches("v[0-9]+")).sorted
    assert(dirs == Seq("v3", "v4"))            // the commit-time policy
    // a concurrent writer's in-flight v5, not yet committed
    val inFlight = new java.io.File(store.versionDir("silver", "t", 5))
    assert(inFlight.mkdirs())
    // a gap: v2 missing while older and newer versions exist
    new java.io.File(store.versionDir("silver", "t", 1)).mkdirs()
    store.vacuum(spark, "silver", "t", keepLast = 1)
    assert(dirs == Seq("v4", "v5"))
    assert(inFlight.isDirectory)
    assert(store.read(spark, "silver", "t").get.head().getInt(0) == 4)
  }

  test("missing table reads as None, version 0") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-store3").toString)
    assert(store.currentVersion(spark, "silver", "nope") == 0)
    assert(store.read(spark, "silver", "nope").isEmpty)
  }

  test("writeTouchedPartitions: fresh partitions written, new ones " +
      "added, untouched ones carried over; old-version vacuum keeps " +
      "links valid") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-store4").toString)
    store.write(Seq((1, "a", 10), (2, "b", 10), (3, "c", 20))
      .toDF("k", "v", "p"), "silver", "t", partitionBy = Seq("p"))
    // touch p=20 (rewrite) and p=30 (brand new); p=10 untouched
    store.writeTouchedPartitions(
      Seq((3, "c2", 20), (4, "d", 30)).toDF("k", "v", "p"),
      "silver", "t", partitionBy = Seq("p"))

    assert(store.currentVersion(spark, "silver", "t") == 2)
    val rows = store.read(spark, "silver", "t").get.collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows == Map(1 -> ("a", 10), 2 -> ("b", 10),
      3 -> ("c2", 20), 4 -> ("d", 30)))

    def files(v: Int, p: Int): Set[String] = {
      val d = new java.io.File(
        store.versionDir("silver", "t", v), s"p=$p")
      Option(d.listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    assert(files(2, 10) == files(1, 10))            // carried over
    assert(files(2, 20).intersect(files(1, 20)).isEmpty)  // rewritten
    assert(files(2, 30).nonEmpty)                   // new partition

    // hard links must survive vacuum of the source version
    store.vacuum(spark, "silver", "t", keepLast = 1)
    assert(store.read(spark, "silver", "t").get.count() == 4)
  }

  test("metadata persists across writes until overwritten — a " +
      "meta-less rewrite cannot erase streaming exactly-once markers") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-store-meta").toString)
    // markers a caller's own stream driver stamps through write(meta)
    store.write(Seq((1, "a")).toDF("k", "v"), "silver", "m",
      meta = Map("stream_batch_id" -> "42", "stream_query_id" -> "q1"))
    store.write(store.read(spark, "silver", "m").get, "silver", "m")
    assert(store.meta(spark, "silver", "m", "stream_batch_id")
      .contains("42"))
    assert(store.meta(spark, "silver", "m", "stream_query_id")
      .contains("q1"))
    // an explicit value in a later write overrides; others persist
    store.write(Seq((1, "b")).toDF("k", "v"), "silver", "m",
      meta = Map("stream_batch_id" -> "43"))
    assert(store.meta(spark, "silver", "m", "stream_batch_id")
      .contains("43"))
    assert(store.meta(spark, "silver", "m", "stream_query_id")
      .contains("q1"))
  }

  test("stat-parts serialization round-trips adversarial rels/values") {
    // rel paths and string-typed stat values may contain the format's
    // own delimiters (tab, newline), URL metacharacters, unicode, and
    // the empty string (unpartitioned tables' root key) — URL-encoding
    // must make every one of them round-trip exactly
    val rnd = new scala.util.Random(7)
    def nasty(): String = {
      val pool = "a=b/%09\t\n\u00e9\u4e16% +&#?\"'"
      (0 until rnd.nextInt(12)).map(_ =>
        pool(rnd.nextInt(pool.length))).mkString
    }
    (1 to 200).foreach { _ =>
      val parts = (0 until rnd.nextInt(6)).map(_ => (nasty(), nasty()))
        .distinctBy(_._1)
      val kind = Seq("ts", "date", "int", "str")(rnd.nextInt(4))
      val rendered = ModelStore.renderParts(kind, parts)
      val parsed = ModelStore.parseParts(rendered)
      assert(parsed === Some((kind, parts.toMap)))
    }
    // the empty rendering is the tombstone, never a valid parse
    assert(ModelStore.parseParts("") === None)
  }

  test("partitioned+zordered write splits a partition value across " +
      "files with disjoint zorder ranges") {
    // The cluster-scale layout claim: hash-on-partitionBy caps write
    // parallelism at the number of distinct partition values (one
    // month = one task = one monolithic file); the range layout on
    // (partitionBy ++ zorderBy) must instead split each partition
    // value across several tasks whose files carry DISJOINT zorder
    // ranges (so within-partition min/max file skipping works). AQE
    // would coalesce this tiny input to one bucket, masking the
    // layout — disable coalescing for the assertion only.
    val prev = spark.conf.getOption(
      "spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    try {
      val store = new ModelStore(
        Files.createTempDirectory("graft-rangelayout").toString)
      val df = spark.range(8000).selectExpr(
        "cast(id % 2 AS int) AS p", "id AS z", "id * 3 AS v")
      store.write(df, "silver", "rl",
        partitionBy = Seq("p"), zorderBy = Seq("z"))

      val vdir = store.versionDir("silver", "rl",
        store.currentVersion(spark, "silver", "rl"))
      val base = new org.apache.hadoop.fs.Path(vdir, "p=0")
      val fs = base.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(base).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      // 4 shuffle partitions over 2 partition values → ≥2 range
      // buckets land inside p=0 (the hash layout would give exactly 1)
      assert(files.size > 1,
        s"expected p=0 split across >1 file, got ${files.size}")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f.toString)
          .selectExpr("min(z)", "max(z)").head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax < bMin,
            s"zorder ranges overlap within p=0: $ranges")
        case _ => ()
      }
      // and the layout change loses nothing
      assert(store.read(spark, "silver", "rl").get.count() == 8000)
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("a description-less rewrite keeps the table comment") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-store-comment").toString)
    store.write(Seq((1, "a")).toDF("k", "v"), "silver", "c",
      description = "one row per customer")
    store.write(store.read(spark, "silver", "c").get, "silver", "c")
    assert(store.currentVersion(spark, "silver", "c") == 2)
    assert(store.comment(spark, "silver", "c")
      .contains("one row per customer"))
  }

  // ---- appendBatch: the one "append this batch as a partition" commit

  private def appendStore(tag: String) =
    new ModelStore(Files.createTempDirectory(s"graft-append-$tag").toString)

  private def kv(rows: (Int, String)*) = rows.toDF("k", "v")

  private def rowsByBatch(store: ModelStore, name: String)
      : Set[(Int, String, Long)] =
    store.read(spark, "s", name).get
      .selectExpr("k", "v", "cast(b AS long)").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  /** `name`'s version dirs, from the table directory. */
  private def versionDirs(store: ModelStore, name: String): Seq[String] =
    Option(new java.io.File(s"${store.root}/s/$name").listFiles).toSeq
      .flatten.map(_.getName).filter(_.matches("v[0-9]+")).sorted

  private def partitionFiles(store: ModelStore, name: String, v: Int,
      part: String): Seq[java.io.File] =
    Option(new java.io.File(store.versionDir("s", name, v), part)
      .listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  private def nlink(f: java.io.File): Int =
    Files.getAttribute(f.toPath, "unix:nlink")
      .asInstanceOf[Number].intValue

  test("appendBatch onto a missing table: a plain partitioned write " +
      "tagged with the batch id") {
    val store = appendStore("missing")
    store.appendBatch(kv(1 -> "a", 2 -> "b"), "s", "t", "b", 7L)
    assert(store.currentVersion(spark, "s", "t") == 1)
    assert(store.hasPartitionLayout(spark, "s", "t", Seq("b")))
    assert(rowsByBatch(store, "t") == Set((1, "a", 7L), (2, "b", 7L)))
    // the footer stores the batch's own columns; b lives in the dir name
    val footer = ParquetStats.sparkSchema(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(
        partitionFiles(store, "t", 1, "b=7").head.getPath))
    assert(footer.map(_.fieldNames.toSeq).contains(Seq("k", "v")))
  }

  test("appendBatch over a compatible table writes only the batch's " +
      "partition and hard-links the others (O(batch))") {
    val store = appendStore("links")
    store.appendBatch(kv(1 -> "a"), "s", "t", "b", 0L)
    store.appendBatch(kv(2 -> "b"), "s", "t", "b", 1L)
    store.appendBatch(kv(3 -> "c"), "s", "t", "b", 2L)
    assert(store.currentVersion(spark, "s", "t") == 3)
    assert(rowsByBatch(store, "t") ==
      Set((1, "a", 0L), (2, "b", 1L), (3, "c", 2L)))
    // batch 1's files are the same inodes in v2 and v3; batch 2's are
    // the only fresh ones
    val b1v2 = partitionFiles(store, "t", 2, "b=1")
    val b1v3 = partitionFiles(store, "t", 3, "b=1")
    assert(b1v2.nonEmpty && b1v2.map(_.getName).toSet ==
      b1v3.map(_.getName).toSet)
    assert(b1v3.forall(nlink(_) >= 2))
    assert(partitionFiles(store, "t", 3, "b=2").forall(nlink(_) == 1))
  }

  test("appendBatch: a replayed batch replaces its own partition") {
    val store = appendStore("replay")
    store.appendBatch(kv(1 -> "a", 2 -> "b"), "s", "t", "b", 0L)
    store.appendBatch(kv(3 -> "c"), "s", "t", "b", 1L)
    store.appendBatch(kv(1 -> "a2"), "s", "t", "b", 0L)
    assert(rowsByBatch(store, "t") == Set((1, "a2", 0L), (3, "c", 1L)))
  }

  test("appendBatch: zero rows commit nothing and leave no staged " +
      "version dir") {
    val store = appendStore("empty")
    val none = kv(1 -> "x").filter("k < 0")
    // onto a missing table
    store.appendBatch(none, "s", "t", "b", 0L)
    assert(store.currentVersion(spark, "s", "t") == 0)
    assert(versionDirs(store, "t").isEmpty)
    // onto a compatible table: the pointer and the data stay put
    store.appendBatch(kv(1 -> "a"), "s", "t", "b", 0L)
    store.appendBatch(none, "s", "t", "b", 1L, meta = Map("m" -> "1"))
    assert(store.currentVersion(spark, "s", "t") == 1)
    assert(versionDirs(store, "t") == Seq("v1"))
    assert(store.meta(spark, "s", "t", "m").isEmpty)
    assert(rowsByBatch(store, "t") == Set((1, "a", 0L)))
  }

  test("appendBatch: a zero-row append that finds another writer's " +
      "commit raises and deletes nothing") {
    val store = appendStore("race")
    store.appendBatch(kv(1 -> "a"), "s", "t", "b", 0L)
    val v2 = new java.io.File(store.versionDir("s", "t", 2))
    // another writer commits v2 while this append's write runs: the
    // batch's only row is filtered out inside that write
    val fired = new java.util.concurrent.atomic.AtomicBoolean
    AppendRace.onRow = () => if (fired.compareAndSet(false, true)) {
      v2.mkdirs()
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"${store.root}/s/t/_CURRENT"), true)
      try out.write("2".getBytes("UTF-8")) finally out.close()
    }
    val dropAll = org.apache.spark.sql.functions.udf { (_: Int) =>
      AppendRace.onRow(); false }.asNondeterministic()
    try {
      intercept[ModelStore.ConcurrentWriteException] {
        store.appendBatch(kv(2 -> "b").filter(dropAll($"k")),
          "s", "t", "b", 1L)
      }
    } finally AppendRace.onRow = () => ()
    // the pointer still names a version dir that exists
    assert(store.currentVersion(spark, "s", "t") == 2)
    assert(v2.isDirectory)
  }

  test("appendBatch decides without a Spark job: an append over a " +
      "three-batch table runs the same jobs as the first append") {
    val store = appendStore("jobs")
    val first = JobCount(spark)(
      store.appendBatch(kv(1 -> "a"), "s", "t", "b", 0L))
    store.appendBatch(kv(2 -> "b"), "s", "t", "b", 1L)
    store.appendBatch(kv(3 -> "c"), "s", "t", "b", 2L)
    val later = JobCount(spark)(
      store.appendBatch(kv(4 -> "d"), "s", "t", "b", 3L))
    assert(first > 0 && later == first)
    assert(rowsByBatch(store, "t").map(_._3) == Set(0L, 1L, 2L, 3L))
  }

  test("appendBatch migrates an unpartitioned table: one full rewrite " +
      "keeps its rows, later batches link") {
    val store = appendStore("unpart")
    store.write(kv(100 -> "old"), "s", "t")
    // the migration commit happens even for an empty batch
    store.appendBatch(kv(1 -> "x").filter("k < 0"), "s", "t", "b", 0L)
    assert(store.currentVersion(spark, "s", "t") == 2)
    assert(store.hasPartitionLayout(spark, "s", "t", Seq("b")))
    store.appendBatch(kv(1 -> "a"), "s", "t", "b", 1L)
    store.appendBatch(kv(2 -> "b"), "s", "t", "b", 2L)
    val rows = store.read(spark, "s", "t").get
      .selectExpr("k", "v", "cast(b AS long)").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows == Set((100, "old", None), (1, "a", Some(1L)),
      (2, "b", Some(2L))))
    // after the migration, the appends took the linked path
    assert(partitionFiles(store, "t", 4, "b=1").forall(nlink(_) >= 2))
  }

  test("appendBatch migrates a schema-drifted table, null-backfilling " +
      "the new column") {
    val store = appendStore("drift")
    store.appendBatch(kv(1 -> "a"), "s", "t", "b", 0L)
    store.appendBatch(Seq((2, "b", 2.5)).toDF("k", "v", "w"),
      "s", "t", "b", 1L)
    assert(store.currentVersion(spark, "s", "t") == 2)
    val rows = store.read(spark, "s", "t").get
      .selectExpr("k", "w", "cast(b AS long)").collect()
      .map(r => (r.getInt(0), Option(r.get(1)), r.getLong(2))).toSet
    assert(rows == Set((1, None, 0L), (2, Some(2.5), 1L)))
    // one rewrite: batch 0's partition is fresh in v2, not linked
    assert(partitionFiles(store, "t", 2, "b=0").forall(nlink(_) == 1))
    // and the migrated layout takes the next batch on the linked path
    store.appendBatch(Seq((3, "c", 1.0)).toDF("k", "v", "w"),
      "s", "t", "b", 2L)
    assert(partitionFiles(store, "t", 3, "b=0").forall(nlink(_) >= 2))
    // a type change is drift too (int k widens to long)
    store.appendBatch(Seq((4L, "d", 0.5)).toDF("k", "v", "w"),
      "s", "t", "b", 3L)
    assert(partitionFiles(store, "t", 4, "b=2").forall(nlink(_) == 1))
    assert(store.read(spark, "s", "t").get.count() == 4)
  }

  // ---- reads: the schema comes from the driver, not an inference job

  test("store.read runs no Spark job, partitioned or not") {
    val store = appendStore("readjobs")
    val df = Seq((1, "a", 2024), (2, "b", 2025)).toDF("k", "v", "y")
    store.write(df, "s", "flat")
    store.write(df, "s", "parted", partitionBy = Seq("y"))
    for (t <- Seq("flat", "parted")) {
      assert(JobCount(spark)(store.read(spark, "s", t).get) == 0, t)
      assert(store.read(spark, "s", t).get.count() == 2, t)
    }
  }

  test("store.read's schema and rows are spark.read.parquet's") {
    val store = appendStore("readschema")
    def same(name: String): Unit = {
      val dir = store.versionDir("s", name,
        store.currentVersion(spark, "s", name))
      val ours = store.read(spark, "s", name).get
      val spark0 = spark.read.parquet(dir)
      assert(ours.schema == spark0.schema, name)
      assert(ours.collect().toSet == spark0.collect().toSet, name)
    }
    // a long batch column reads back as int (partition inference)
    store.appendBatch(kv(1 -> "a"), "s", "batch", "b", 3L)
    same("batch")
    assert(store.read(spark, "s", "batch").get.schema("b").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // NULL and empty-string partition values (both the default dir)
    store.write(Seq((1, "x"), (2, null), (3, "")).toDF("k", "p"), "s",
      "nulls", partitionBy = Seq("p"))
    same("nulls")
    // two levels, as orders_cleaned's order_year/order_month
    store.write(Seq((1, 2024, 1), (2, 2024, 12), (3, 2025, 3))
        .toDF("k", "order_year", "order_month"), "s", "twolevel",
      partitionBy = Seq("order_year", "order_month"))
    same("twolevel")
    // a date partition
    store.write(Seq((1, java.sql.Date.valueOf("2024-03-01")),
        (2, java.sql.Date.valueOf("2024-03-02"))).toDF("k", "d"),
      "s", "dated", partitionBy = Seq("d"))
    same("dated")
    // unpartitioned
    store.write(kv(1 -> "a", 2 -> "b"), "s", "flat")
    same("flat")
    // a drifted appendBatch: the full rewrite's version
    store.appendBatch(kv(1 -> "a"), "s", "drift", "b", 0L)
    store.appendBatch(Seq((2, "b", 2.5)).toDF("k", "v", "w"),
      "s", "drift", "b", 1L)
    same("drift")
    // zero rows: unpartitioned keeps a schema-only file; partitioned
    // leaves no data file, and the read fails as spark.read's does
    store.write(kv(1 -> "a").filter("k < 0"), "s", "empty")
    same("empty")
    store.write(kv(1 -> "a").filter("k < 0"), "s", "emptyparts",
      partitionBy = Seq("v"))
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      store.read(spark, "s", "emptyparts"))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(store.versionDir("s", "emptyparts", 1)))
    assert(ours.getCondition == theirs.getCondition)
  }
}

/** Hook a spec's UDF calls on the executor (same JVM in local mode). */
private object AppendRace {
  @volatile var onRow: () => Unit = () => ()
}
