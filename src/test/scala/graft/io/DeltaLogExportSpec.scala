package graft.io

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Structural conformance of the exported `_delta_log` against the
  * public Delta protocol: action shapes, snapshot algebra (adds −
  * removes ≡ the live file set on disk), monotone log versions,
  * idempotent re-export. (No Delta reader ships in this offline
  * environment — this spec IS the conformance check.) */
class DeltaLogExportSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val mapper = new ObjectMapper()

  /** Parse one log file's JSON-line actions, closing the reader (a
    * leaked Source per call would accumulate OS handles over the
    * suite's shared JVM). One definition for every test. */
  private def actionsIn(logDir: java.io.File, file: String) = {
    val src = scala.io.Source.fromFile(new java.io.File(logDir, file))
    try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toSeq
    finally src.close()
  }

  private def readSmall(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f)
    try src.getLines().mkString finally src.close()
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)

  test("log entries carry protocol/metaData/add/remove per the spec; " +
      "snapshot equals the live files; re-export is a no-op") {
    val root = Files.createTempDirectory("graft-dlog").toString
    val store = new ModelStore(root)
    store.write(
      Seq(("a", Option("p1"), 1L), ("b", Option.empty[String], 2L))
        .toDF("k", "p", "v"),
      "silver", "t", partitionBy = Seq("p"))

    val v0 = DeltaLogExport.export(spark, store, "silver", "t")
    assert(v0 == 0L)
    // second store version (merge-style rewrite)
    store.write(
      Seq(("a", Option("p1"), 10L), ("c", Option("p2"), 3L))
        .toDF("k", "p", "v"),
      "silver", "t", partitionBy = Seq("p"))
    val v1 = DeltaLogExport.export(spark, store, "silver", "t")
    assert(v1 == 1L)
    // idempotent: same store version again → no new entry
    assert(DeltaLogExport.export(spark, store, "silver", "t") == -1L)

    val logDir = new java.io.File(s"$root/silver/t/_delta_log")
    val entries = logDir.listFiles().map(_.getName)
      .filter(_.endsWith(".json")).sorted
    assert(entries.toSeq ==
      Seq("00000000000000000000.json", "00000000000000000001.json"))

    def actions(file: String) = actionsIn(logDir, file)

    val e0 = actions(entries(0))
    // protocol action: first entry only, plain-parquet feature level
    val protocol = e0.filter(_.has("protocol"))
    assert(protocol.size == 1)
    assert(protocol.head.get("protocol").get("minReaderVersion").asInt == 1)
    assert(e0.count(_.has("remove")) == 0) // nothing superseded yet

    // metaData: schemaString is the Spark schema JSON; partition cols
    val meta = e0.find(_.has("metaData")).get.get("metaData")
    val schema = mapper.readTree(meta.get("schemaString").asText)
    assert(schema.get("type").asText == "struct")
    val fields = schema.get("fields").elements()
    val names = Iterator.continually(fields)
      .takeWhile(_.hasNext).map(_.next().get("name").asText).toSet
    assert(names == Set("k", "p", "v"))
    assert(meta.get("partitionColumns").get(0).asText == "p")
    assert(meta.get("format").get("provider").asText == "parquet")

    // add actions: Hive-style partition values incl. the NULL partition
    val adds0 = e0.filter(_.has("add")).map(_.get("add"))
    assert(adds0.nonEmpty)
    val pvals = adds0.map { a =>
      val pv = a.get("partitionValues").get("p")
      if (pv.isNull) None else Some(pv.asText)
    }.toSet
    assert(pvals == Set(Some("p1"), None))

    // snapshot algebra across BOTH entries: replay adds/removes in
    // order; the surviving set must be exactly the parquet files of
    // the current store version, with matching on-disk sizes
    val live = scala.collection.mutable.Map.empty[String, Long]
    (e0 ++ actions(entries(1))).foreach { n =>
      if (n.has("add"))
        live(n.get("add").get("path").asText) =
          n.get("add").get("size").asLong
      else if (n.has("remove")) live -= n.get("remove").get("path").asText
    }
    val curV = store.currentVersion(spark, "silver", "t")
    val base = new java.io.File(store.versionDir("silver", "t", curV))
    val onDisk = walk(base).filter(_.getName.endsWith(".parquet"))
      .map(f => s"v$curV/" +
        base.toURI.relativize(f.toURI).getPath -> f.length).toMap
    assert(live.toMap == onDisk)
    // every referenced path resolves under the table root
    live.keys.foreach(p =>
      assert(new java.io.File(s"$root/silver/t/$p").isFile, p))
  }

  test("multi-column partitioning keeps NESTING order; escaped values " +
      "are unescaped; paths are URL-encoded; vacuumed prior versions " +
      "don't crash the export") {
    val root = Files.createTempDirectory("graft-dlog2").toString
    val store = new ModelStore(root)
    // deliberately anti-alphabetical partition order (y before m would
    // sort m first) + a value Spark must path-escape (the colon)
    store.write(
      Seq((1L, 2024, "a:b"), (2L, 2025, "plain")).toDF("v", "yr", "tag"),
      "silver", "t2", partitionBy = Seq("yr", "tag"))
    assert(DeltaLogExport.export(spark, store, "silver", "t2") == 0L)
    val logDir = new java.io.File(s"$root/silver/t2/_delta_log")
    def actions(file: String) = actionsIn(logDir, file)
    val e0 = actions("00000000000000000000.json")
    val meta = e0.find(_.has("metaData")).get.get("metaData")
    assert(meta.get("partitionColumns").get(0).asText == "yr")
    assert(meta.get("partitionColumns").get(1).asText == "tag")
    val adds = e0.filter(_.has("add")).map(_.get("add"))
    // the VALUE comes back, not Spark's escaped dir name
    assert(adds.map(_.get("partitionValues").get("tag").asText).toSet ==
      Set("a:b", "plain"))
    // paths are URL-encoded (the colon dir segment) yet resolvable
    // after decoding
    adds.map(_.get("path").asText).foreach { p =>
      assert(!p.contains(" "), p)
      val decoded = java.net.URLDecoder.decode(p, "UTF-8")
      assert(new java.io.File(s"$root/silver/t2/$decoded").isFile,
        s"$p -> $decoded")
    }

    // vacuum the logged version away, write + export again: removes
    // must be derived from the LOG's own adds (the prior version dir
    // is gone, so re-listing it would emit no removes and leave the
    // old adds dangling in a reader's snapshot)
    store.write(
      Seq((3L, 2026, "x")).toDF("v", "yr", "tag"),
      "silver", "t2", partitionBy = Seq("yr", "tag"))
    store.vacuum(spark, "silver", "t2", keepLast = 1)
    assert(DeltaLogExport.export(spark, store, "silver", "t2") == 1L)
    val e1 = actions("00000000000000000001.json")
    assert(e1.count(_.has("add")) > 0)
    // every v0 add is now removed — snapshot algebra stays exact
    // across the vacuum
    val added0 = e0.filter(_.has("add"))
      .map(_.get("add").get("path").asText).toSet
    val removed1 = e1.filter(_.has("remove"))
      .map(_.get("remove").get("path").asText).toSet
    assert(removed1 == added0)
    val live = scala.collection.mutable.Set.empty[String]
    (e0 ++ e1).foreach { n =>
      if (n.has("add")) live += n.get("add").get("path").asText
      else if (n.has("remove")) live -= n.get("remove").get("path").asText
    }
    live.foreach { p =>
      val decoded = java.net.URLDecoder.decode(p, "UTF-8")
      assert(new java.io.File(s"$root/silver/t2/$decoded").isFile, p)
    }
    // partitionColumns are pinned across entries (a metadata change
    // would be illegal for Delta readers)
    val meta1 = e1.find(_.has("metaData")).get.get("metaData")
    assert(meta1.get("partitionColumns").get(0).asText == "yr")
    assert(meta1.get("partitionColumns").get(1).asText == "tag")

    // checkpoint the PARTITIONED log, then one more commit: the
    // checkpoint-seeded replay must carry paths, partitionValues and
    // partitionColumns through the parquet round-trip intact
    assert(DeltaLogExport.checkpoint(spark, store, "silver", "t2") == 1L)
    store.write(Seq((4L, 2027, "y")).toDF("v", "yr", "tag"),
      "silver", "t2", partitionBy = Seq("yr", "tag"))
    assert(DeltaLogExport.export(spark, store, "silver", "t2") == 2L)
    val e2 = actions("00000000000000000002.json")
    val added1 = e1.filter(_.has("add"))
      .map(_.get("add").get("path").asText).toSet
    val removed2 = e2.filter(_.has("remove"))
      .map(_.get("remove").get("path").asText).toSet
    assert(removed2 == added1) // seeded live set, byte-for-byte paths
    val meta2 = e2.find(_.has("metaData")).get.get("metaData")
    assert(meta2.get("partitionColumns").get(0).asText == "yr")
    assert(meta2.get("partitionColumns").get(1).asText == "tag")
  }

  test("checkpoint + JSON tail reconstructs the same snapshot as a " +
      "full log replay; _last_checkpoint points at it") {
    val root = Files.createTempDirectory("graft-dlog-ckpt").toString
    val store = new ModelStore(root)
    def write(vs: (String, Long)*) = store.write(
      vs.toSeq.toDF("k", "v"), "silver", "tc")
    // three store versions → log entries 0 and 1 and 2; checkpoint at 1
    write("a" -> 1L, "b" -> 2L)
    assert(DeltaLogExport.export(spark, store, "silver", "tc") == 0L)
    write("a" -> 10L, "c" -> 3L)
    assert(DeltaLogExport.export(spark, store, "silver", "tc") == 1L)
    assert(DeltaLogExport.checkpoint(spark, store, "silver", "tc") == 1L)

    val logDir = new java.io.File(s"$root/silver/tc/_delta_log")
    val ptr = mapper.readTree(
      readSmall(new java.io.File(logDir, "_last_checkpoint")))
    assert(ptr.get("version").asLong == 1L)
    val ckptFile = new java.io.File(logDir,
      "00000000000000000001.checkpoint.parquet")
    assert(ckptFile.isFile)
    val ckpt = spark.read.parquet(ckptFile.getPath)
    assert(ckpt.count() == ptr.get("size").asLong)

    // a commit AFTER the checkpoint — the reader's tail
    write("d" -> 4L)
    assert(DeltaLogExport.export(spark, store, "silver", "tc") == 2L)

    // checkpointed replay: start from the checkpoint's live adds,
    // apply entries > checkpoint version only
    import org.apache.spark.sql.functions.col
    val live = scala.collection.mutable.Set.empty[String]
    ckpt.filter(col("add").isNotNull).select("add.path").collect()
      .foreach(r => live += r.getString(0))
    // protocol + metaData survive the checkpoint
    assert(ckpt.filter(col("protocol").isNotNull).count() == 1)
    val metaRows = ckpt.filter(col("metaData").isNotNull)
      .select("metaData.schemaString").collect()
    assert(metaRows.length == 1 &&
      metaRows.head.getString(0).contains("struct"))
    def actions(file: String) = actionsIn(logDir, file)
    actions("00000000000000000002.json").foreach { n =>
      if (n.has("add")) live += n.get("add").get("path").asText
      else if (n.has("remove")) live -= n.get("remove").get("path").asText
    }
    // full replay over all three JSON entries
    val full = scala.collection.mutable.Set.empty[String]
    Seq("00000000000000000000.json", "00000000000000000001.json",
      "00000000000000000002.json").flatMap(actions).foreach { n =>
      if (n.has("add")) full += n.get("add").get("path").asText
      else if (n.has("remove")) full -= n.get("remove").get("path").asText
    }
    assert(live == full)
    // and both equal the files of the current store version on disk
    val curV = store.currentVersion(spark, "silver", "tc")
    val base = new java.io.File(store.versionDir("silver", "tc", curV))
    val onDisk = walk(base).filter(_.getName.endsWith(".parquet"))
      .map(f => s"v$curV/" + base.toURI.relativize(f.toURI).getPath).toSet
    assert(live.map(p => java.net.URLDecoder.decode(p, "UTF-8")) == onDisk)
  }

  test("Pipeline checkpoints the delta log on the configured cadence") {
    import graft.model.{ModelDef, Pipeline, RunMode}
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-dlog-pipeckpt").toString
    val store = new ModelStore(root)
    val model = ModelDef(name = "m", layer = "silver",
      uniqueKey = Some("k"),
      build = ctx => ctx.source("bronze", "src").filter(col("v") >= 0))
    def pipe(df: org.apache.spark.sql.DataFrame) =
      new Pipeline(Seq(model), store, (_, _) => df,
        exportDeltaLog = true, deltaCheckpointInterval = 2)
    pipe(Seq(("a", 1L)).toDF("k", "v")).run(spark, RunMode.Bootstrap)
    pipe(Seq(("a", 2L)).toDF("k", "v")).run(spark, RunMode.Incremental)
    val logDir = new java.io.File(s"$root/silver/m/_delta_log")
    // entries 0 and 1 → one checkpoint at entry 1 (interval 2)
    assert(new java.io.File(logDir,
      "00000000000000000001.checkpoint.parquet").isFile)
    assert(new java.io.File(logDir, "_last_checkpoint").isFile)
  }

  test("empty store version exports a removes-only entry with the " +
      "prior schema; a re-partitioned logged table is refused") {
    val root = Files.createTempDirectory("graft-dlog-empty").toString
    val store = new ModelStore(root)
    store.write(Seq((1L, "p1"), (2L, "p2")).toDF("v", "p"),
      "silver", "te", partitionBy = Seq("p"))
    assert(DeltaLogExport.export(spark, store, "silver", "te") == 0L)
    // a partitioned write of zero rows leaves no parquet files at all —
    // the export must still describe the version (snapshot empties)
    store.write(
      Seq.empty[(Long, String)].toDF("v", "p"),
      "silver", "te", partitionBy = Seq("p"))
    assert(DeltaLogExport.export(spark, store, "silver", "te") == 1L)
    val logDir = new java.io.File(s"$root/silver/te/_delta_log")
    def actions(file: String) = actionsIn(logDir, file)
    val e1 = actions("00000000000000000001.json")
    assert(e1.count(_.has("add")) == 0)
    assert(e1.count(_.has("remove")) == 2) // both v1 files left
    val meta1 = e1.find(_.has("metaData")).get.get("metaData")
    // schema + partitioning survive from the logged history
    assert(meta1.get("schemaString").asText.contains("struct"))
    assert(meta1.get("partitionColumns").get(0).asText == "p")

    // re-partitioning a LOGGED table is an illegal metadata change:
    // refuse loudly instead of committing contradictory actions
    store.write(Seq((3L, "x")).toDF("v", "p"),
      "silver", "te", partitionBy = Nil)
    val ex = intercept[RuntimeException] {
      DeltaLogExport.export(spark, store, "silver", "te")
    }
    assert(ex.getMessage.contains("re-partitioned"))
  }

  test("backfill of a never-materialized partitioned model bootstraps") {
    import graft.model.{ModelDef, Pipeline}
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-backfill-boot").toString
    val store = new ModelStore(root)
    val model = ModelDef(name = "bm", layer = "silver",
      partitionBy = Seq("p"),
      build = ctx => ctx.source("bronze", "src"))
    val src = Seq((1L, "p1"), (2L, "p2")).toDF("v", "p")
    val pipe = new Pipeline(Seq(model), store, (_, _) => src)
    val out = pipe.backfill(spark, "bm", col("p") === "p1")
    assert(out.filter(col("p") === "p1").count() == 1)
    assert(store.hasPartitionLayout(spark, "silver", "bm", Seq("p")))
  }

  test("Pipeline(exportDeltaLog=true) maintains a log per model run") {
    import graft.model.{ModelDef, Pipeline, RunMode}
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-dlog-pipe").toString
    val store = new ModelStore(root)
    def mk(v: Long) = Seq(("a", v), ("b", v + 1)).toDF("k", "v")
    val model = ModelDef(name = "m", layer = "silver",
      uniqueKey = Some("k"), build = ctx =>
        ctx.source("bronze", "src").filter(col("v") >= 0))
    def pipe(df: org.apache.spark.sql.DataFrame) =
      new Pipeline(Seq(model), store, (_, _) => df,
        exportDeltaLog = true)
    pipe(mk(1)).run(spark, RunMode.Bootstrap)
    pipe(mk(10)).run(spark, RunMode.Incremental)
    val names = new java.io.File(s"$root/silver/m/_delta_log")
      .listFiles().map(_.getName).filter(_.endsWith(".json")).sorted
    assert(names.toSeq ==
      Seq("00000000000000000000.json", "00000000000000000001.json"))
  }
}
