package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Materialized-model storage with Delta-style versioning:
  *
  * ```
  * <root>/<layer>/<name>/v1/…parquet      immutable version dirs
  * <root>/<layer>/<name>/v2/…
  * <root>/<layer>/<name>/_CURRENT        pointer file → "2"
  * ```
  *
  * Every write lands in a fresh `v<k>` directory and then swaps the
  * `_CURRENT` pointer — the transactional-commit analog of Delta's log
  * (reference materializes to Delta tables, `dbt_project.yml:39`):
  * readers of the previous version are never disturbed, a failed write
  * leaves no torn table, and the previous version stays readable
  * ([[readVersion]], time travel) until the next commit: every commit
  * ends by dropping the versions older than that
  * ([[ModelStore.RetainVersions]] — retention is the store's policy,
  * not a caller's). [[vacuum]] is the explicit maintenance drop.
  * Because each version is a distinct path, Spark plan/file-listing
  * caches can never serve stale post-swap data.
  *
  * Layer maps a dbt custom schema used verbatim (reference
  * `macros/generate_schema_name.sql:4–11`).
  *
  * `OPTIMIZE … ZORDER BY` post-hook analog (reference
  * `orders_cleaned.sql:15`): clustering sort before write so parquet
  * row-group min/max stats give the same data-skipping reads ZORDER
  * targets — partitioned tables repartition on the partition columns
  * (one file per partition per owning task) and sort in-partition.
  * The bin-packing half needs no separate pass: the write's
  * repartition carries no partition count, so AQE sizes its files to
  * the data, and every commit writes whole partitions or whole tables
  * fresh — small files never accumulate across commits.
  */
final class ModelStore(val root: String) {

  private def tableDir(layer: String, name: String): Path =
    new Path(s"$root/$layer/$name")

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Current version number, 0 if the table does not exist. */
  def currentVersion(spark: SparkSession, layer: String, name: String)
      : Int = {
    val ptr = new Path(tableDir(layer, name), "_CURRENT")
    val fs = fsFor(spark, ptr)
    if (!fs.exists(ptr)) 0
    else {
      val in = fs.open(ptr)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
  }

  def versionDir(layer: String, name: String, v: Int): String =
    new Path(tableDir(layer, name), s"v$v").toString

  def read(spark: SparkSession, layer: String, name: String)
      : Option[DataFrame] = {
    val v = currentVersion(spark, layer, name)
    if (v == 0) None else Some(readVersion(spark, layer, name, v))
  }

  /** Time travel: read a specific retained version — the current one
    * or, until the next commit drops it, the previous one. No Spark
    * job runs: the schema comes from [[readSchema]], and only a
    * version it cannot derive pays `spark.read.parquet`'s inference
    * job (with that read's result and errors). */
  def readVersion(spark: SparkSession, layer: String, name: String,
      v: Int): DataFrame = {
    val dir = versionDir(layer, name, v)
    readSchema(spark, new Path(dir)) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  /** The schema `spark.read.parquet` infers for `dir`, derived as its
    * inference derives it but on the driver: partition columns and
    * their types from Spark's own partition discovery over `dir`, data
    * columns from the Spark row schema in the footer of the first file
    * in path order — the one file Spark's inference reads when
    * `mergeSchema` is off (the store writes no summary files, and its
    * files never hold a partition column). None when that footer holds
    * no Spark row schema or cannot be read. The listing is Spark's, so
    * like `spark.read` it runs a listing job past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * directories on one level. */
  private def readSchema(spark: SparkSession, dir: Path)
      : Option[StructType] = {
    val index = new InMemoryFileIndex(spark, Seq(dir), Map.empty, None)
    index.allFiles().map(_.getPath).minByOption(_.toString)
      .flatMap(f => scala.util.Try(ParquetStats.sparkSchema(
        spark.sparkContext.hadoopConfiguration, f)).toOption.flatten)
      .map(d => StructType(d.fields ++ index.partitionSchema.fields))
  }

  def write(df: DataFrame, layer: String, name: String,
      partitionBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
      description: String = "",
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val next = currentVersion(spark, layer, name) + 1
    val dest = new Path(versionDir(layer, name, next))
    writeData(df, dest, partitionBy, zorderBy)
    // full rewrite: every partition is fresh, nothing linked
    commit(spark, layer, name, next, description,
      meta ++ statsMeta(spark, layer, name, dest, partitionBy,
        statsCols, linkedRels = Set.empty))
  }

  /** Partition-pruned incremental write (the Delta-MERGE file-pruning
    * analog, reference `orders_cleaned.sql:14`): `df` holds the merged
    * content of ONLY the touched partitions; they are written fresh
    * into the new version, and every untouched partition directory is
    * carried over from the current version by hard link (per-file copy
    * fallback) — O(touched data) write cost instead of a full-table
    * rewrite per incremental run. Version dirs stay self-contained, so
    * time travel, vacuum and concurrent readers are unaffected. */
  def writeTouchedPartitions(df: DataFrame, layer: String, name: String,
      partitionBy: Seq[String], zorderBy: Seq[String] = Nil,
      description: String = "",
      meta: Map[String, String] = Map.empty,
      touchedRows: Option[(StructType,
        Seq[org.apache.spark.sql.Row])] = None,
      statsCols: Seq[String] = Nil): Unit = {
    require(partitionBy.nonEmpty, "writeTouchedPartitions needs partitions")
    val spark = df.sparkSession
    val cur = currentVersion(spark, layer, name)
    val dest = new Path(versionDir(layer, name, cur + 1))
    writeData(df, dest, partitionBy, zorderBy)
    val fs = fsFor(spark, dest)
    // A partition counts as rewritten if the fresh write produced a
    // dir for it OR the caller declared it touched (`touchedRows`,
    // partition-value rows the caller already collected — e.g. the
    // merge arm's discovery collect). The declared set covers the
    // emptied-partition case:
    // a backfill whose rebuild yields ZERO rows for a selected
    // partition writes no dir, and without the explicit set the
    // stale dir would be carried over — deleted data silently
    // resurrected. Declared rows are rendered to relative paths
    // driver-side ([[ModelStore.touchedRelPaths]] — Spark's own
    // escaping/NULL encoding, spec-checked against the real writer
    // layout); value types whose writer formatting is less trivial
    // (timestamp/decimal/float) fall back to a one-row marker write
    // through the actual partitioned writer. Lazy: a missing table
    // links nothing and needs no marker write.
    lazy val fresh = {
      val freshWritten = partitionRelPaths(fs, dest, partitionBy.length)
        .toSet
      touchedRows match {
        case None => freshWritten
        case Some((schema, rows)) =>
          ModelStore.touchedRelPaths(schema, rows, partitionBy) match {
            case Some(rels) => freshWritten ++ rels
            case None =>
              val tmp = new Path(dest.toString + ".touched")
              spark.createDataFrame(
                  java.util.Arrays.asList(rows: _*), schema)
                .select(partitionBy.map(col): _*).distinct()
                .withColumn("__m", lit(1))
                .write.mode("overwrite").partitionBy(partitionBy: _*)
                .parquet(tmp.toString)
              val rels = partitionRelPaths(fs, tmp, partitionBy.length)
                .toSet
              fs.delete(tmp, true)
              freshWritten ++ rels
          }
      }
    }
    linkAndCommit(spark, layer, name, cur, dest, partitionBy,
      description, meta, statsCols, carry = rel => !fresh(rel))
  }

  /** Hard-link every partition dir of version `cur` that `carry` keeps
    * into the staged `dest`, then commit `dest` as version `cur + 1`.
    * Stats run AFTER the link pass, walking ONLY the freshly-written
    * partitions; carried-over dirs are byte-identical links, so their
    * recorded per-partition maxima are reused — the recorded table max
    * stays exact (a backfill that REMOVED the previous maximum drops
    * that partition's entry) at O(touched files) cost. */
  private def linkAndCommit(spark: SparkSession, layer: String,
      name: String, cur: Int, dest: Path, partitionBy: Seq[String],
      description: String, meta: Map[String, String],
      statsCols: Seq[String],
      carry: String => Boolean): Unit = {
    val fs = fsFor(spark, dest)
    val src = new Path(versionDir(layer, name, cur))
    val linkedRels =
      if (cur == 0) Set.empty[String]
      else partitionRelPaths(fs, src, partitionBy.length).filter(carry)
        .toSet
    linkedRels.foreach(rel =>
      linkOrCopyDir(fs, new Path(src, rel), new Path(dest, rel)))
    commit(spark, layer, name, cur + 1, description,
      meta ++ statsMeta(spark, layer, name, dest, partitionBy,
        statsCols, linkedRels))
  }

  /** Append `rows` as the table's `batchCol=<batchId>` partition: the
    * store's one append (the reference's default `incremental_strategy:
    * 'append'`, `dbt_project.yml:40–41`). Rules, each stated once here:
    *
    *  - rows are tagged `batchCol = batchId` (a long);
    *  - a missing table gets a plain partitioned write;
    *  - over a compatible table (`batchCol=` partitions holding the
    *    batch's other columns by name and type, nullability aside) only
    *    the batch's partition is written fresh — so a replay replaces
    *    its own partition — and every other one hard-links over:
    *    O(batch);
    *  - over any other table a link pass would carry nothing, and the
    *    next commit's retention would drop the old rows for good: one
    *    full rewrite of existing ∪ batch rows (null-backfilled) migrates
    *    it instead. That commit always happens;
    *  - a fresh write that produced no `batchCol=` dir had zero rows:
    *    nothing commits, and the staged version dir is removed (unless
    *    another writer committed it meanwhile:
    *    [[ModelStore.ConcurrentWriteException]], nothing deleted).
    *
    * The write is the only Spark job: emptiness comes from its output
    * listing, the layout from the version's listing, the columns from
    * one footer ([[readSchema]]). */
  def appendBatch(rows: DataFrame, layer: String, name: String,
      batchCol: String, batchId: Long,
      meta: Map[String, String] = Map.empty): Unit = {
    val spark = rows.sparkSession
    val tagged = rows.withColumn(batchCol, lit(batchId))
    val partitionBy = Seq(batchCol)
    val cur = currentVersion(spark, layer, name)
    if (cur > 0 && !appendable(spark, layer, name, cur, batchCol, tagged)) {
      write(readVersion(spark, layer, name, cur)
          .unionByName(tagged, allowMissingColumns = true),
        layer, name, partitionBy, meta = meta)
      return
    }
    val dest = new Path(versionDir(layer, name, cur + 1))
    writeData(tagged, dest, partitionBy, Nil)
    val fs = fsFor(spark, dest)
    val fresh = partitionRelPaths(fs, dest, 1).toSet
    if (fresh.nonEmpty)
      linkAndCommit(spark, layer, name, cur, dest, partitionBy, "", meta,
        Nil, rel => !fresh(rel))
    else {
      // `dest` is a committed version if another writer got there
      // first: raise as commit would, and delete nothing
      val now = currentVersion(spark, layer, name)
      if (now != cur)
        throw new ModelStore.ConcurrentWriteException(
          s"concurrent write to $layer.$name: expected v$cur, found v$now")
      if (!fs.delete(dest, true) && fs.exists(dest))
        throw new java.io.IOException(s"could not remove staged $dest")
    }
  }

  /** [[appendBatch]]'s compatibility test, from listings and one
    * footer ([[readSchema]], the schema a read of the version gets). */
  private def appendable(spark: SparkSession, layer: String,
      name: String, cur: Int, batchCol: String, batch: DataFrame)
      : Boolean =
    hasPartitionLayout(spark, layer, name, Seq(batchCol)) && {
      def cols(s: StructType) = StructType(s.filter(_.name != batchCol))
      readSchema(spark, new Path(versionDir(layer, name, cur)))
        .exists(have => ModelStore.compatibleColumns(cols(have),
          cols(batch.schema)))
    }

  /** Columns with recorded (or tombstoned) stats meta on the current
    * version — what [[statsMeta]] tombstones when a write stops
    * declaring them. */
  private def statsColsOf(spark: SparkSession, layer: String,
      name: String): Seq[String] = {
    val v = currentVersion(spark, layer, name)
    if (v == 0) return Nil
    val dir = new Path(versionDir(layer, name, v))
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_meta_stat_max_"))
      .map(_.stripPrefix("_meta_stat_max_"))
  }

  /** Commit-time footer-derived column maxima (the Delta
    * stats-in-the-commit-log analog), as two meta entries per column:
    *
    *  - `stat_parts_<col>`: per-partition-dir maxima (kind header +
    *    one URL-encoded `rel \t value` line each). Only FRESH
    *    partitions' footers are walked; linked dirs reuse the prior
    *    version's entries (byte-identical files ⇒ identical maxima),
    *    so each commit costs O(touched files) metadata reads — never
    *    O(table).
    *  - `stat_max_<col>`: the fold of the per-partition maxima — the
    *    exact table max (a rewrite that removed the old maximum drops
    *    that partition's entry, so the fold can DECREASE correctly).
    *
    * A column whose stats are unusable anywhere (legacy INT96 files,
    * stats disabled, mixed physical types) writes EMPTY values for
    * both: the tombstone overrides the commit's carry-forward of the
    * prior entries, which would otherwise go stale-high after a
    * rewrite and silently skip rows in watermark gates (stale-LOW is
    * safe — merge re-processing is idempotent — but stale-high never
    * is). Consumers treat empty as absent and fall back to scanning.
    *
    * A write that does NOT declare statsCols on a table that HAS
    * stats meta tombstones all of it — an undeclared data change must
    * never inherit the old maxima. */
  private def statsMeta(spark: SparkSession, layer: String, name: String,
      dest: Path, partitionBy: Seq[String], statsCols: Seq[String],
      linkedRels: Set[String]): Map[String, String] = {
    // tombstone every previously-tracked column the current write does
    // NOT declare (see scaladoc) — including the NARROWING case: a
    // write declaring only a subset must not let commit()'s meta
    // carry-forward preserve a stale (possibly stale-HIGH) max for
    // the dropped columns
    val dropped = statsColsOf(spark, layer, name)
      .filterNot(statsCols.contains)
      .flatMap(c => Seq(s"stat_max_$c" -> "", s"stat_parts_$c" -> ""))
      .toMap
    if (statsCols.isEmpty) return dropped
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsFor(spark, dest)
    val allRels: Seq[String] =
      if (partitionBy.isEmpty) Seq("")
      else partitionRelPaths(fs, dest, partitionBy.length)
    def filesUnder(rel: String): Seq[Path] = {
      val base = if (rel.isEmpty) dest else new Path(dest, rel)
      if (!fs.exists(base)) Nil
      else fs.listStatus(base).toSeq.filter(s => s.isFile &&
        s.getPath.getName.endsWith(".parquet")).map(_.getPath)
    }
    // prior per-partition maxima per column (the version being
    // superseded is still the CURRENT one here — commit hasn't swapped
    // the pointer). Linked rels resolve from the prior map when it
    // exists; absent entries there mean "no non-null values in that
    // partition" and are trusted. Without a prior map (first
    // stats-bearing commit over linked history, or a tombstone) the
    // linked dirs are walked too — the one-time upgrade cost.
    val prior = statsCols.map(c => c ->
      meta(spark, layer, name, s"stat_parts_$c")
        .flatMap(ModelStore.parseParts)).toMap
    def walkRelsOf(c: String): Seq[String] =
      if (prior(c).isDefined) allRels.filterNot(linkedRels)
      else allRels
    // every footer opens ONCE and yields all columns needing its rel —
    // columns with a prior map skip the linked dirs' entries
    val relsToWalk = statsCols.flatMap(walkRelsOf).distinct
    val walkedAll = ParquetStats.groupedMaxAll(conf,
      relsToWalk.map(r => r -> filesUnder(r)), statsCols)
    val computed = statsCols.flatMap { c =>
      val walked = walkedAll(c).view.filterKeys(
        walkRelsOf(c).toSet).toMap
      val reused: Seq[(String, ParquetStats.DirStat)] = prior(c) match {
        case Some((kind, parts)) => linkedRels.toSeq.sorted.map(r =>
          r -> parts.get(r).map(v =>
            ParquetStats.MaxValue(kind, v): ParquetStats.DirStat)
            .getOrElse(ParquetStats.NoValue))
        case None => Nil
      }
      val perRel = (walked.toSeq ++ reused).collect {
        case (r, v: ParquetStats.MaxValue) => r -> v
      }
      val unusable =
        walked.valuesIterator.contains(ParquetStats.Unusable) ||
          perRel.map(_._2.kind).distinct.sizeIs > 1
      if (unusable || perRel.isEmpty)
        Seq(s"stat_max_$c" -> "", s"stat_parts_$c" -> "")
      else {
        val kind = perRel.head._2.kind
        val tableMax = perRel.map(_._2.rendered)
          .reduce((a, b) => if (ParquetStats.compare(kind, a, b) >= 0) a
            else b)
        Seq(s"stat_max_$c" -> tableMax,
          s"stat_parts_$c" -> ModelStore.renderParts(kind,
            perRel.map { case (r, v) => r -> v.rendered }))
      }
    }.toMap
    dropped ++ computed
  }

  private def writeData(df: DataFrame, dest: Path,
      partitionBy: Seq[String], zorderBy: Seq[String]): Unit = {
    // ZORDER analog: cluster before write. The repartitions carry no
    // explicit partition count, so AQE coalesces the write parallelism
    // to the data size instead of fanning tiny files out across every
    // shuffle partition. Lexicographic sort favors the FIRST zorder
    // column (the dominant filter in every reference query); for
    // balanced multi-dimension skipping callers can pre-cluster with
    // graft.functions.ZOrder.cluster (true Morton interleave) at the
    // cost of one extra min/max pass over the model.
    //
    // Partitioned writes range-partition on (partitionBy ++ zorderBy),
    // NOT hash on partitionBy alone: a hash by the partition columns
    // caps write parallelism at the number of DISTINCT partition
    // values (one month = one task = one giant sorted file, however
    // big the cluster — measured 157 s for the 15M-row medallion
    // bootstrap at ≈sf10, 45% of the whole pipeline). Ranging on the
    // zorder key as well splits each partition value across buckets
    // while keeping rows of one value contiguous per task, so the
    // dynamic-partition writer still emits few, clustered files per
    // dir and AQE still coalesces small writes; parallelism now
    // scales with data size instead of calendar cardinality. A bonus:
    // a partition value's several files carry DISJOINT zorder ranges
    // (range split), so file-level min/max skipping within a
    // partition improves over one monolithic file. Measured cost:
    // ~1.4 s on the sf0.1 medallion E2E (range sampling jobs) —
    // accepted for the cluster-scale win. Without zorder columns the
    // range key would be degenerate (equal keys share one bucket —
    // no spread, still a sampling pass), so those writes keep the
    // hash layout.
    // A ranged (zorder) write EXECUTES its input twice: the
    // RangePartitioner's sketch pass samples the child plan to derive
    // bucket bounds, then the write re-runs it for the data. Persisting
    // the input across the two passes was A/B-measured at sf0.1
    // (round 12, targeted q34 min-of-3, quiet windows): persist
    // 13.73 s vs recompute 13.18 s — the cache round-trip costs MORE
    // than recomputing these cheap transforms, so the write recomputes.
    // The trade reverses when the transform above the write is
    // expensive relative to its output bytes (the ≈sf10 medallion
    // bootstrap paid its 15M-row CDC-dedup window twice, +60 s
    // measured); cluster re-tuning would revisit it there.
    val clustered =
      if (partitionBy.nonEmpty && zorderBy.nonEmpty)
        df.repartitionByRange((partitionBy ++ zorderBy).map(col): _*)
          .sortWithinPartitions((partitionBy ++ zorderBy).map(col): _*)
      else if (partitionBy.nonEmpty)
        df.repartition(partitionBy.map(col): _*)
          .sortWithinPartitions(partitionBy.map(col): _*)
      else if (zorderBy.nonEmpty)
        df.repartitionByRange(zorderBy.map(col): _*)
          .sortWithinPartitions(zorderBy.map(col): _*)
      else df
    val writer = clustered.write.mode("overwrite")
    val partitioned =
      if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
      else writer
    partitioned.parquet(dest.toString)
  }

  /** True iff the CURRENT version's data is laid out as
    * `col1=…/…/colN=…` partition directories for exactly
    * `partitionBy` — the precondition for a pruned (link-based)
    * incremental write. False for missing tables, unpartitioned
    * layouts, or a DIFFERENT partition scheme (e.g. the model's
    * partitioning changed between runs): a pruned write against any
    * of those would silently drop the rows outside the touched set,
    * so callers must fall back to a full rewrite. */
  def hasPartitionLayout(spark: SparkSession, layer: String,
      name: String, partitionBy: Seq[String]): Boolean = {
    val cur = currentVersion(spark, layer, name)
    if (cur == 0 || partitionBy.isEmpty) return false
    val base = new Path(versionDir(layer, name, cur))
    val fs = fsFor(spark, base)
    def check(p: Path, cols: Seq[String]): Boolean = cols match {
      // the LEAF level must hold data, not further col= dirs: a stored
      // layout DEEPER than the declared partitionBy (the scheme
      // changed between runs) must fail the check, or the pruned write
      // would commit a version mixing two partition depths
      case Seq() => !fs.listStatus(p).exists(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      case c +: rest =>
        val entries = fs.listStatus(p).toSeq
        val dirs = entries.filter(s =>
          s.isDirectory && s.getPath.getName.contains("="))
        dirs.nonEmpty &&
          dirs.forall(d => d.getPath.getName.startsWith(s"$c=") &&
            check(d.getPath, rest)) &&
          entries.filter(_.isFile)
            .forall(!_.getPath.getName.endsWith(".parquet"))
    }
    if (!fs.exists(base)) false else check(base, partitionBy)
  }

  /** Relative `col=value/...` partition directory paths at `depth`
    * levels under `base` (encoded by Spark's own partitioned write, so
    * no value-escaping logic is re-implemented here). */
  private def partitionRelPaths(fs: FileSystem, base: Path,
      depth: Int): Seq[String] = {
    def walk(p: Path, level: Int): Seq[String] =
      if (level == 0) Seq("")
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => walk(s.getPath, level - 1)
          .map(rest =>
            if (rest.isEmpty) s.getPath.getName
            else s"${s.getPath.getName}/$rest"))
    if (!fs.exists(base)) Nil else walk(base, depth)
  }

  /** Carry one untouched partition dir into the new version: hard link
    * each file (O(1), no data movement on a local store); fall back to
    * a byte copy where the filesystem can't link. An object-store
    * implementation would instead reference the files in a manifest. */
  private def linkOrCopyDir(fs: FileSystem, src: Path, dst: Path): Unit = {
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      if (st.isDirectory)
        linkOrCopyDir(fs, st.getPath, new Path(dst, st.getPath.getName))
      else {
        val target = new Path(dst, st.getPath.getName)
        val linked =
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(target.toUri.getPath),
              java.nio.file.Paths.get(st.getPath.toUri.getPath))
            true
          } catch { case _: Exception => false }
        if (!linked)
          org.apache.hadoop.fs.FileUtil.copy(
            fs, st.getPath, fs, target, false, fs.getConf): Unit
      }
    }
  }

  private def commit(spark: SparkSession, layer: String, name: String,
      next: Int, description: String, meta: Map[String, String]): Unit = {
    // optimistic-concurrency check (Delta's commit-conflict analog,
    // best-effort: a TOCTOU window remains on a plain filesystem): if
    // another writer committed since this write began, fail loudly
    // rather than silently clobbering its version
    val cur = currentVersion(spark, layer, name)
    if (cur != next - 1)
      throw new ModelStore.ConcurrentWriteException(
        s"concurrent write to $layer.$name: expected to commit " +
          s"v$next over v${next - 1}, but found v$cur")
    val dest = new Path(versionDir(layer, name, next))
    val fs = fsFor(spark, dest)
    // O7 persist_docs analog: table comment persisted beside the data.
    // Arbitrary metadata (column stats, staleness stamps) is
    // written into the version dir BEFORE the pointer swap, so data +
    // metadata commit atomically together.
    val metaAll =
      if (description.nonEmpty) meta + ("table_comment" -> description)
      else meta
    metaAll.foreach { case (k, v) =>
      val out = fs.create(new Path(dest, s"_meta_$k"), true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
    }
    // Carry prior-version metadata forward (Delta table-properties
    // semantics: a property persists until overwritten). appendBatch
    // commits no description, so this is what keeps the table comment
    // across it; and it is why statsMeta must write EMPTY tombstones
    // for stats a write no longer declares — omitting them would carry
    // the old, possibly stale-high maxima forward.
    if (next > 1) {
      val prev = new Path(versionDir(layer, name, next - 1))
      if (fs.exists(prev))
        fs.listStatus(prev).toSeq
          .filter(s => s.isFile && s.getPath.getName.startsWith("_meta_"))
          .foreach { s =>
            val k = s.getPath.getName.stripPrefix("_meta_")
            if (!metaAll.contains(k))
              org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
                new Path(dest, s.getPath.getName), false, fs.getConf): Unit
          }
    }

    // commit: write-temp + atomic OVERWRITE rename over the pointer —
    // no delete-then-rename window where the pointer doesn't exist (a
    // crash there would make the table read as missing and the next
    // write recycle v1)
    val ptr = new Path(tableDir(layer, name), "_CURRENT")
    val ptrTmp = new Path(tableDir(layer, name), "_CURRENT.tmp")
    val out = fs.create(ptrTmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      ptr.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(ptrTmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // retention AFTER the swap: a failed drop leaves a committed table
    // with one stale version, and propagates as an ordinary I/O error —
    // never as the ConcurrentWriteException a lost race raises
    dropVersions(fs, tableDir(layer, name), next,
      ModelStore.RetainVersions)
  }

  /** Hard-link the CURRENT version of `layer.name` into `target` as
    * ITS v1 (per-file copy where the filesystem can't link) — the
    * cheap per-run fork of a shared read-only artifact: a caller that
    * must MUTATE a staleness-keyed snapshot store (e.g. an
    * append-simulation query) forks it in O(files) link syscalls
    * instead of rebuilding the artifact or churning versions on the
    * shared store under concurrent readers. Version metadata rides
    * along (`_meta_*` files live inside the version dir). The target
    * table must not exist — a fork is a fresh store by contract. */
  def cloneCurrentInto(spark: SparkSession, layer: String, name: String,
      target: ModelStore): Unit = {
    val v = currentVersion(spark, layer, name)
    require(v > 0, s"cloneCurrentInto: $layer.$name does not exist")
    require(target.currentVersion(spark, layer, name) == 0,
      s"cloneCurrentInto: target $layer.$name already exists")
    val src = new Path(versionDir(layer, name, v))
    val dst = new Path(target.versionDir(layer, name, 1))
    val fs = fsFor(spark, src)
    linkOrCopyDir(fs, src, dst)
    val ptr = new Path(target.tableDir(layer, name), "_CURRENT")
    val out = fs.create(ptr, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
  }

  /** Drop all but the last `keepLast` versions (Delta VACUUM analog) —
    * explicit maintenance beyond the per-commit
    * [[ModelStore.RetainVersions]] policy. */
  def vacuum(spark: SparkSession, layer: String, name: String,
      keepLast: Int = 1): Unit = {
    val dir = tableDir(layer, name)
    dropVersions(fsFor(spark, dir), dir,
      currentVersion(spark, layer, name), keepLast)
  }

  /** Delete every `v<k>` under `dir` with `k <= cur - keepLast`, from
    * ONE listing: commit calls this on every write, so a probe per
    * version number would cost O(versions) calls per commit. `k > cur`
    * is a concurrent writer's in-flight version and is never touched.
    * A version already gone (a concurrent drop, a gap) is fine; one
    * that fails to go raises. */
  private def dropVersions(fs: FileSystem, dir: Path, cur: Int,
      keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    if (cur - keepLast < 1 || !fs.exists(dir)) return
    val VersionDir = "v([0-9]+)".r
    fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case VersionDir(k) if st.isDirectory &&
            k.toIntOption.exists(_ <= cur - keepLast) =>
          if (!fs.delete(st.getPath, true) && fs.exists(st.getPath))
            throw new java.io.IOException(s"could not drop ${st.getPath}")
        case _ =>
      }
    }
  }

  /** Metadata value persisted with the current version, if any. */
  def meta(spark: SparkSession, layer: String, name: String, key: String)
      : Option[String] = {
    val v = currentVersion(spark, layer, name)
    if (v == 0) return None
    val p = new Path(versionDir(layer, name, v), s"_meta_$key")
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val out = new java.io.ByteArrayOutputStream()
      try {
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(out.toString("UTF-8"))
      } finally in.close()
    }
  }

  /** Persisted table comment of the current version, if any (O7). */
  def comment(spark: SparkSession, layer: String, name: String)
      : Option[String] = meta(spark, layer, name, "table_comment")

  /** Commit-time footer-stats MAX of `column` in the current version
    * (recorded when the writer passed `statsCols`). None when never
    * recorded or tombstoned (empty) — callers fall back to scanning.
    * The value is exact table state, not an approximation: it is
    * re-derived from every file of each committed version. */
  def statMax(spark: SparkSession, layer: String, name: String,
      column: String): Option[String] =
    meta(spark, layer, name, s"stat_max_$column").filter(_.nonEmpty)
}

object ModelStore {

  /** Versions every commit retains: the new current one and the one it
    * supersedes; older ones are dropped as the commit ends. Two, not
    * one: a concurrent reader that resolved the previous `_CURRENT`
    * just before the swap must still find its files (the
    * one-generation read pin, ArtifactStoreSpec). A caller that holds
    * a lazy frame over a version across two more commits must
    * materialize it first (the `localCheckpoint`s in IncrementalDedup
    * and NearDupIndex). */
  val RetainVersions = 2

  /** The optimistic-concurrency commit conflict (Delta's
    * ConcurrentModificationException analog): another writer committed
    * between this write's version resolution and its pointer swap.
    * TYPED so recovery paths (e.g. [[ArtifactStore.ensure]]'s
    * deterministic-winner fallback) can catch exactly this and nothing
    * else — a catch on message text or a broad exception class would
    * swallow real failures. */
  final class ConcurrentWriteException(msg: String)
    extends IllegalStateException(msg)

  /** The store's one column-compatibility test ([[appendBatch]],
    * [[MergeWriter.upsert]]): the same column names, each with the same
    * type, nullability aside; order does not matter. */
  def compatibleColumns(a: StructType, b: StructType): Boolean = {
    def types(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    val (have, want) = (types(a), types(b))
    have.keySet == want.keySet &&
      have.forall { case (c, t) => DataTypeUtils.sameType(t, want(c)) }
  }

  /** Serialize per-partition stat maxima: kind header, then one
    * URL-encoded `rel \t value` line per partition (URL-encoding keeps
    * tabs/newlines in string-typed values or exotic partition paths
    * unambiguous). */
  private[io] def renderParts(kind: String,
      parts: Seq[(String, String)]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    (kind +: parts.sortBy(_._1).map { case (r, v) =>
      s"${enc(r)}\t${enc(v)}" }).mkString("\n")
  }

  /** Parse [[renderParts]] output; None for a tombstone (empty). */
  private[io] def parseParts(s: String)
      : Option[(String, Map[String, String])] = {
    if (s.isEmpty) return None
    def dec(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    val lines = s.split("\n", -1).toSeq
    Some((lines.head, lines.tail.filter(_.nonEmpty).map { l =>
      val Array(r, v) = l.split("\t", 2)
      dec(r) -> dec(v)
    }.toMap))
  }

  /** Render already-collected touched-partition tuples to the relative
    * `col=value/...` paths Spark's partitioned writer would produce —
    * escaping and NULL/empty encoding via Spark's own
    * `ExternalCatalogUtils.getPartitionPathString` (the exact helper
    * the writer's dynamic-partition path construction uses), so no
    * escaping logic is re-implemented. Returns None when any value's
    * type is outside the trivially-renderable set (timestamps carry
    * session-zone formatting, decimals trailing-zero choices, floats
    * scientific-notation edges) — callers then fall back to a marker
    * write through the real writer. Spec-checked against actual writer
    * output in ModelStoreSpec, including specials, empty and NULL. */
  private[graft] def touchedRelPaths(
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row],
      partitionBy: Seq[String]): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val idx = partitionBy.map(schema.fieldIndex)
    def render(v: Any): Option[String] = v match {
      case null => Some(null)                     // → DEFAULT_PARTITION
      case s: String => Some(s)                   // "" also → DEFAULT
      case b: Boolean => Some(b.toString)
      case b: Byte => Some(b.toString)
      case s: Short => Some(s.toString)
      case i: Int => Some(i.toString)
      case l: Long => Some(l.toString)
      case d: java.sql.Date => Some(d.toString)   // yyyy-MM-dd
      case d: java.time.LocalDate => Some(d.toString)
      case _ => None
    }
    val rels = rows.map { r =>
      val parts = idx.zip(partitionBy).map { case (i, c) =>
        render(r.get(i)).map(v =>
          ExternalCatalogUtils.getPartitionPathString(c, v))
      }
      if (parts.forall(_.isDefined)) Some(parts.flatten.mkString("/"))
      else None
    }
    if (rels.forall(_.isDefined)) Some(rels.flatten.toSet) else None
  }
}
