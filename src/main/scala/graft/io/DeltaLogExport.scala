package graft.io

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession

/** Delta-protocol transaction-log export for a [[ModelStore]] table —
  * the interop half of the Delta emulation (reference
  * `dbt_project.yml:39` `+file_format: delta`; the environment ships
  * no Delta jars, so the store versions plain parquet and THIS writes
  * the `_delta_log` a real Delta reader needs to open the table).
  *
  * Each export appends one log entry (`_delta_log/<v>.json`, 20-digit
  * zero-padded) describing the CURRENT store version as a snapshot
  * commit, per the public Delta protocol (PROTOCOL.md of
  * delta-io/delta): a `protocol` action (minReader 1 / minWriter 2 —
  * plain-parquet features only), a `metaData` action whose
  * `schemaString` is the Spark StructType JSON (the format Delta
  * uses verbatim), `add` actions for every data file of the current
  * version (paths relative to the table root, partition values parsed
  * from the Hive-style dir names the store writes), and `remove`
  * actions for every file a reader currently reconstructs — derived
  * by REPLAYING the log itself, not by re-listing the prior version
  * directory (which may already be vacuumed). Version dirs are
  * immutable, so `add`s are never mutated after commit — the same
  * append-only discipline Delta requires.
  *
  * [[checkpoint]] writes the protocol's `<v>.checkpoint.parquet` +
  * `_last_checkpoint`; both export and checkpoint seed their replay
  * from the latest checkpoint when one exists, so per-commit cost is
  * O(tail), not O(all entries) — the property that keeps a
  * long-lived table's export (one entry per commit) from going
  * quadratic in its commit count.
  *
  * No Delta reader exists in this offline environment, so conformance
  * is spec-verified STRUCTURALLY against the protocol document
  * (DeltaLogExportSpec): action field shapes, snapshot algebra
  * (adds − removes ≡ the live file set), checkpoint+tail replay ≡
  * full replay, monotone versions. On a cluster with Delta jars this
  * object is superseded by writing through `delta` directly.
  */
object DeltaLogExport {

  private val AddPath = """"add":\{"path":"((?:[^"\\]|\\.)*)"""".r
  private val RemovePath = """"remove":\{"path":"((?:[^"\\]|\\.)*)"""".r
  private val PartColsPat = """"partitionColumns":(\[[^\]]*\])""".r
  private val SchemaPat = """"schemaString":"((?:[^"\\]|\\.)*)"""".r

  private val ProtocolLine =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Replayed snapshot state of an existing `_delta_log`. Path keys are
    * the as-written (JSON-escaped + URL-encoded) strings, so a remove
    * emitted from this state matches its add byte-for-byte — URL
    * encoding leaves no character `esc` would alter, so the escaped
    * and unescaped forms coincide for paths. */
  private final case class LogState(
      entries: Seq[Long],
      partColsJson: Option[String],
      schemaEsc: Option[String],
      metaLine: Option[String],
      liveAdds: mutable.LinkedHashMap[String, String],
      tombstones: mutable.LinkedHashMap[String, String])

  private def partJsonFromMap(m: collection.Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + esc(k) + "\":" + (if (v == null) "null"
        else "\"" + esc(v) + "\"")
    }.mkString("{", ",", "}")

  /** Latest checkpoint version per `_last_checkpoint`, if the pointer
    * and the checkpoint file both exist. */
  private def lastCheckpoint(fs: FileSystem, logDir: Path): Option[Long] = {
    val ptr = new Path(logDir, "_last_checkpoint")
    if (!fs.exists(ptr)) return None
    val in = fs.open(ptr)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    """"version":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      .filter(v => fs.exists(new Path(logDir, f"$v%020d.checkpoint.parquet")))
  }

  /** Replay the log into its current snapshot, seeded from the latest
    * checkpoint when present (then only the JSON tail is read). */
  private def replay(spark: SparkSession, fs: FileSystem, logDir: Path)
      : LogState = {
    val entries =
      if (!fs.exists(logDir)) Seq.empty[Long]
      else fs.listStatus(logDir).map(_.getPath.getName).toSeq
        .filter(n => n.endsWith(".json") &&
          n.stripSuffix(".json").forall(_.isDigit))
        .map(_.stripSuffix(".json").toLong).sorted
    val state = LogState(entries, None, None, None,
      mutable.LinkedHashMap.empty, mutable.LinkedHashMap.empty)
    var partCols: Option[String] = None
    var schemaEsc: Option[String] = None
    var metaLine: Option[String] = None

    val ckpt = lastCheckpoint(fs, logDir)
    ckpt.foreach { v =>
      import org.apache.spark.sql.functions.col
      val df = spark.read.parquet(
        new Path(logDir, f"$v%020d.checkpoint.parquet").toString)
      df.filter(col("metaData").isNotNull).select("metaData.*").collect()
        .foreach { m =>
          val id = m.getAs[String]("id")
          val schema = m.getAs[String]("schemaString")
          val pcols: collection.Seq[String] =
            m.getSeq[String](m.fieldIndex("partitionColumns"))
          val created = m.getAs[Long]("createdTime")
          schemaEsc = Some(esc(schema))
          partCols = Some(
            pcols.map(c => "\"" + esc(c) + "\"").mkString("[", ",", "]"))
          metaLine = Some("""{"metaData":{"id":"""" + id +
            """","format":{"provider":"parquet","options":{}},""" +
            """"schemaString":"""" + esc(schema) + """",""" +
            """"partitionColumns":""" + partCols.get +
            ""","configuration":{},"createdTime":""" + created + "}}")
        }
      df.filter(col("add").isNotNull).select("add.*").collect().foreach { a =>
        val p = a.getAs[String]("path")
        val pv: collection.Map[String, String] =
          if (a.isNullAt(a.fieldIndex("partitionValues"))) Map.empty
          else a.getMap[String, String](a.fieldIndex("partitionValues"))
        state.liveAdds(esc(p)) = ("""{"add":{"path":"""" + esc(p) +
          """","partitionValues":""" + partJsonFromMap(pv) +
          ""","size":""" + a.getAs[Long]("size") +
          ""","modificationTime":""" + a.getAs[Long]("modificationTime") +
          ""","dataChange":true}}""")
      }
      df.filter(col("remove").isNotNull).select("remove.*").collect()
        .foreach { r =>
          val p = r.getAs[String]("path")
          state.tombstones(esc(p)) = ("""{"remove":{"path":"""" + esc(p) +
            """","deletionTimestamp":""" +
            r.getAs[Long]("deletionTimestamp") + ""","dataChange":true}}""")
        }
    }

    entries.filter(v => ckpt.forall(v > _)).foreach { v =>
      val in = fs.open(new Path(logDir, f"$v%020d.json"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.linesIterator.filter(_.nonEmpty).foreach { ln =>
        if (ln.contains("\"metaData\":")) {
          metaLine = Some(ln)
          PartColsPat.findFirstMatchIn(ln)
            .foreach(m => partCols = Some(m.group(1)))
          SchemaPat.findFirstMatchIn(ln)
            .foreach(m => schemaEsc = Some(m.group(1)))
        } else if (!ln.contains("\"protocol\":")) {
          AddPath.findFirstMatchIn(ln) match {
            case Some(m) =>
              state.liveAdds(m.group(1)) = ln
              state.tombstones -= m.group(1)
            case None => RemovePath.findFirstMatchIn(ln).foreach { m =>
              state.tombstones(m.group(1)) = ln
              state.liveAdds -= m.group(1)
            }
          }
        }
      }
    }
    state.copy(partColsJson = partCols, schemaEsc = schemaEsc,
      metaLine = metaLine)
  }

  /** Append a log entry for the CURRENT version of `layer`.`name`.
    * Returns the log version written, or -1 if the table is missing,
    * already logged at this store version, or empty with no prior
    * schema to describe. */
  def export(spark: SparkSession, store: ModelStore,
      layer: String, name: String): Long = {
    val cur = store.currentVersion(spark, layer, name)
    if (cur == 0) return -1L
    val tableDir = new Path(s"${store.root}/$layer/$name")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(tableDir, "_delta_log")
    fs.mkdirs(logDir)

    // one log entry per store version; re-exporting the same version
    // is a no-op (idempotent, like a replayed commit)
    val marker = new Path(logDir, "_last_store_version")
    val lastStore =
      if (!fs.exists(marker)) 0
      else {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      }
    if (lastStore == cur) return -1L

    // Partition values ride as an ORDERED Seq: the nesting order of
    // the directory walk IS the table's partitioning order, which is
    // semantic in the protocol (metaData.partitionColumns must not be
    // alphabetized). Values are unescaped from Spark's path escaping
    // (a stored value "2024:01" lives in dir p=2024%3A01 — the reader
    // must get the VALUE back, not the escaped dir name).
    def dataFiles(v: Int): Seq[(String, Long, Long, Seq[(String, String)])] = {
      val base = new Path(store.versionDir(layer, name, v))
      // a vacuumed prior version has no dir left — nothing to list
      if (!fs.exists(base)) return Nil
      // listStatus returns scheme-qualified paths; qualify the base the
      // same way so the relative path is a clean prefix strip
      val baseStr = fs.makeQualified(base).toString
      def walk(p: Path, partVals: Seq[(String, String)])
          : Seq[(String, Long, Long, Seq[(String, String)])] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.contains("=")) {
            val Array(c, raw) = n.split("=", 2)
            val value =
              if (raw == "__HIVE_DEFAULT_PARTITION__") null
              else org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName(raw)
            walk(st.getPath, partVals :+ (c -> value))
          } else if (st.isFile && n.endsWith(".parquet"))
            Seq((s"v$v" +
              st.getPath.toString.stripPrefix(baseStr),
              st.getLen, st.getModificationTime, partVals))
          else Nil
        }
      walk(base, Nil)
    }

    // the protocol requires URL-encoded relative paths
    def encPath(p: String): String =
      new java.net.URI(null, null, p, null).toASCIIString

    def partJson(m: Seq[(String, String)]): String =
      partJsonFromMap(m.toMap)

    val current = dataFiles(cur)

    // Removes derived from the LOG's own state (checkpoint-seeded
    // replay), NOT from re-listing the prior version directory — the
    // prior version may be vacuumed, and re-listing it would emit no
    // removes and leave dangling adds in a reader's snapshot.
    val logState = replay(spark, fs, logDir)
    val logVersion =
      if (logState.entries.isEmpty) 0L else logState.entries.max + 1

    // An empty CURRENT version (partitioned write of zero rows leaves
    // no parquet files) has no schema to read on disk — describe it
    // with the previously-logged schema (snapshot becomes removes-only)
    // or skip the export entirely if the log never saw one.
    val schemaEsc =
      if (current.nonEmpty)
        esc(store.readVersion(spark, layer, name, cur).schema.json)
      else logState.schemaEsc.getOrElse(return -1L)

    // partitioning order = directory nesting order (NOT alphabetical —
    // the order is semantic in the protocol). Once committed it is
    // pinned: a version with zero data files must not flip the table
    // to unpartitioned (fall back to older versions, then the log) —
    // and a GENUINE re-partition of a logged table is an illegal
    // metadata change, refused loudly rather than committed as adds
    // that contradict the declared partitionColumns.
    val currentPartCols = current.headOption.map(_._4.map(_._1)).orElse {
      ((cur - 1) to 1 by -1).iterator.map(dataFiles)
        .collectFirst { case fsq if fsq.nonEmpty => fsq.head._4.map(_._1) }
    }
    val currentPartColsJson = currentPartCols.map(
      _.map(c => "\"" + esc(c) + "\"").mkString("[", ",", "]"))
    val partColsJson = (logState.partColsJson, currentPartColsJson) match {
      case (Some(logged), Some(now)) if current.nonEmpty && logged != now =>
        sys.error(s"delta-log export: $layer.$name was re-partitioned " +
          s"($logged -> $now) after being logged; delete the _delta_log " +
          "to restart it (a metaData partitioning change is illegal for " +
          "Delta readers)")
      case (Some(logged), _) => logged
      case (None, Some(now)) => now
      case (None, None) => "[]"
    }

    // deterministic table id (no Date.now/randomness in this codebase)
    val tableId = java.util.UUID.nameUUIDFromBytes(
      s"graft:$layer.$name".getBytes("UTF-8")).toString
    val createdTime = current.map(_._3).minOption.getOrElse(0L)

    val lines = Seq.newBuilder[String]
    if (logVersion == 0) lines += ProtocolLine
    lines += ("""{"metaData":{"id":"""" + tableId +
      """","format":{"provider":"parquet","options":{}},""" +
      """"schemaString":"""" + schemaEsc + """",""" +
      """"partitionColumns":""" + partColsJson +
      ""","configuration":{},"createdTime":""" + createdTime + "}}")
    // Every file a reader currently reconstructs that is not part of
    // the new version leaves the snapshot; hard-linked carry-overs
    // reappear as adds under the NEW version path, so the snapshot
    // algebra stays exact (remove then re-add is legal Delta).
    // deletionTimestamp is the commit time — the prior files
    // themselves may already be vacuumed, so their mtimes are
    // unavailable.
    val commitTs = current.map(_._3).maxOption.getOrElse(createdTime)
    val currentPaths = current.map { case (p, _, _, _) =>
      esc(encPath(p)) }.toSet
    logState.liveAdds.keysIterator.filterNot(currentPaths).foreach { p =>
      lines += ("""{"remove":{"path":"""" + p +
        """","deletionTimestamp":""" + commitTs + ""","dataChange":true}}""")
    }
    current.foreach { case (p, size, mt, pv) =>
      lines += ("""{"add":{"path":"""" + esc(encPath(p)) +
        """","partitionValues":""" + partJson(pv) +
        ""","size":""" + size + ""","modificationTime":""" + mt +
        ""","dataChange":true}}""")
    }

    val entry = new Path(logDir, f"$logVersion%020d.json")
    val out = fs.create(entry, false)
    try out.write((lines.result().mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val mOut = fs.create(marker, true)
    try mOut.write(cur.toString.getBytes("UTF-8")) finally mOut.close()
    logVersion
  }

  /** Checkpoint parquet schema per the public protocol: one nullable
    * struct column per action kind, one action per row. */
  private val CheckpointDdl =
    "protocol struct<minReaderVersion:int,minWriterVersion:int>," +
    "metaData struct<id:string," +
      "format:struct<provider:string,options:map<string,string>>," +
      "schemaString:string,partitionColumns:array<string>," +
      "configuration:map<string,string>,createdTime:bigint>," +
    "add struct<path:string,partitionValues:map<string,string>," +
      "size:bigint,modificationTime:bigint,dataChange:boolean>," +
    "remove struct<path:string,deletionTimestamp:bigint," +
      "dataChange:boolean>"

  /** Write a protocol checkpoint of the CURRENT log state:
    * `_delta_log/<v>.checkpoint.parquet` (the replayed snapshot —
    * protocol + latest metaData, live `add`s, `remove` tombstones)
    * plus the `_last_checkpoint` pointer file, per PROTOCOL.md of
    * delta-io/delta. A reader then loads the checkpoint and applies
    * only the JSON entries AFTER it instead of replaying the whole
    * log. Returns the checkpointed log version, or -1 if no log
    * exists yet. */
  def checkpoint(spark: SparkSession, store: ModelStore,
      layer: String, name: String): Long = {
    val logDir = new Path(s"${store.root}/$layer/$name/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) return -1L
    val state = replay(spark, fs, logDir)
    if (state.entries.isEmpty) return -1L
    val ckptV = state.entries.max

    val rows = Seq(ProtocolLine) ++ state.metaLine.toSeq ++
      state.tombstones.values ++ state.liveAdds.values

    // the action lines ARE rows of the checkpoint schema — read them
    // back through it and write ONE parquet file at the mandated name
    import spark.implicits._
    val df = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(CheckpointDdl))
      .json(spark.createDataset(rows)).coalesce(1)
    val tmp = new Path(logDir, s".ckpt-tmp-$ckptV")
    df.write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"checkpoint write produced no parquet: $tmp"))
    val target = new Path(logDir, f"$ckptV%020d.checkpoint.parquet")
    fs.delete(target, false)
    // rename failures return false rather than throwing on several
    // Hadoop FileSystems — a pointer to a missing checkpoint file is
    // strictly worse than no checkpoint, so fail loudly instead
    if (!fs.rename(part, target))
      sys.error(s"checkpoint rename failed: $part -> $target")
    fs.delete(tmp, true)

    val ptr = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try ptr.write(
      s"""{"version":$ckptV,"size":${rows.size}}""".getBytes("UTF-8"))
    finally ptr.close()
    ckptV
  }
}
