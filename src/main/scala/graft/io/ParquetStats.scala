package graft.io

import scala.collection.parallel.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Footer-statistics column bounds — the Delta per-file column-stats
  * analog for [[ModelStore]] tables. Parquet already persists min/max
  * per column chunk at write time; reading them back is a
  * metadata-only walk of the file footers, so a column MAX costs
  * O(files touched) driver-side IO instead of an O(table) column
  * scan. The incremental high-watermark lookup (reference
  * `orders_cleaned.sql:53–59`: `SELECT MAX(last_updated_at) FROM
  * {{ this }}` per run) is the motivating consumer: at 100 TB that
  * subquery reads a terabyte-scale column, while the footer path
  * reads kilobytes of metadata.
  *
  * Conservative by construction: any file whose footer lacks usable
  * statistics for the column (legacy INT96 timestamps — parquet
  * refuses their broken ordering — or stats disabled at write time)
  * poisons the lookup to [[ParquetStats.Unusable]], and callers fall
  * back to scanning. A value can therefore be trusted absolutely when
  * present. Footer reads parallelize over a bounded driver pool
  * (measured ~7 ms per sequential open even on tmpfs — a 100-file
  * partition walk would otherwise cost ~1 s of serial driver time).
  *
  * [[ModelStore]] keeps the walk O(touched): per-PARTITION maxima
  * persist as version meta and carry over with linked partition dirs,
  * so each commit walks only the files it freshly wrote — Delta's
  * stats-in-the-commit-log design.
  */
object ParquetStats {

  /** Outcome of a footer-stats MAX over a set of files. */
  sealed trait DirStat
  /** Some footer lacked trustworthy stats (INT96, stats disabled,
    * unsupported type) — callers must fall back to scanning and must
    * NOT reuse any previously recorded value. */
  case object Unusable extends DirStat
  /** Every footer had stats but no file holds a non-null value. */
  case object NoValue extends DirStat
  /** The exact MAX, rendered as a string round-trippable through
    * `lit(s).cast(<column type>)` in a UTC session, plus the
    * comparison `kind` ([[compare]]) for cross-partition folds. */
  final case class MaxValue(kind: String, rendered: String)
    extends DirStat

  /** MAX of a top-level column across every `*.parquet` file under
    * `dir` (recursive — partitioned layouts and linked partition dirs
    * are covered), from footer statistics alone. None when unusable
    * or valueless; see [[dirMax]] to distinguish.
    *
    * Rendering: timestamps as `yyyy-MM-dd HH:mm:ss[.SSSSSS]` (UTC,
    * trailing zeros trimmed — Spark's own cast-to-string form), dates
    * as `yyyy-MM-dd`, integrals as decimal strings, strings verbatim.
    * String columns fold in unsigned-UTF-8 order ([[compare]]) — the
    * same order parquet's `Binary` stats and Spark's `UTF8String` use,
    * so the cross-file fold picks the same max a scan would. */
  def columnMax(conf: Configuration, dir: Path, column: String)
      : Option[String] =
    dirMax(conf, dir, column) match {
      case MaxValue(_, s) => Some(s)
      case _ => None
    }

  /** [[columnMax]] with the full tri-state outcome. */
  def dirMax(conf: Configuration, dir: Path, column: String): DirStat = {
    val fs = dir.getFileSystem(conf)
    filesMax(conf, listParquet(fs, dir), column)
  }

  /** Footer-stats MAX over an explicit file list (parallel reads). */
  def filesMax(conf: Configuration, files: Seq[Path], column: String)
      : DirStat = {
    if (files.isEmpty) return NoValue
    // parallel footer reads on the driver: opens are independent
    // metadata IO (~7 ms each sequential, measured), and the common
    // ForkJoin pool caps fan-out at machine width
    files.toIndexedSeq.par
      .map(f => fileMaxAll(conf, f, Seq(column))(column)).seq
      .foldLeft(NoValue: DirStat)(combine)
  }

  /** Per-group footer-stats MAX over labeled file groups (one parallel
    * sweep across ALL files, so 100 one-file partition dirs still read
    * at machine width instead of serially group-by-group). Groups with
    * no files report [[NoValue]]. Every footer opens ONCE and yields
    * all requested columns' stats (a 3-column declaration must not
    * triple the metadata IO). Returns column → group → outcome. */
  def groupedMaxAll(conf: Configuration, groups: Seq[(String, Seq[Path])],
      columns: Seq[String]): Map[String, Map[String, DirStat]] = {
    val flat = for ((g, fs) <- groups; f <- fs) yield (g, f)
    val perFile = flat.toIndexedSeq.par
      .map { case (g, f) => g -> fileMaxAll(conf, f, columns) }.seq
    columns.map { c =>
      val folded = perFile.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2(c)).foldLeft(NoValue: DirStat)(combine)
      }
      c -> groups.map { case (g, _) =>
        g -> folded.getOrElse(g, NoValue) }.toMap
    }.toMap
  }

  private def combine(a: DirStat, b: DirStat): DirStat = (a, b) match {
    case (Unusable, _) | (_, Unusable) => Unusable
    case (acc, NoValue) => acc
    case (NoValue, v) => v
    case (x @ MaxValue(kind, xv), y @ MaxValue(k2, yv)) =>
      if (kind != k2) Unusable // mixed physical types across files
      else if (compare(kind, xv, yv) >= 0) x else y
  }

  /** Order two rendered stat values of the same `kind`. Time kinds
    * compare the year NUMERICALLY, then the fixed-width remainder
    * lexicographically — plain string order diverges once years pass
    * four digits ("10000-…" < "9999-…" lexicographically) or go
    * negative; within one year, months/days/times are zero-padded and
    * fractions trailing-zero-trimmed, so lexicographic order IS
    * chronological. Integrals parse; strings compare as unsigned
    * UTF-8 bytes — the order parquet selected each FILE's max in (its
    * `Binary` stat comparator) and Spark's own `UTF8String` order.
    * UTF-16 `compareTo` diverges from both on supplementary-plane
    * characters (surrogates 0xD800–0xDFFF sort below 0xE000–0xFFFF
    * code units but encode ABOVE them in UTF-8), so folding with it
    * could pick a non-maximal string across files. */
  def compare(kind: String, a: String, b: String): Int = kind match {
    case "int" => java.lang.Long.compare(a.toLong, b.toLong)
    case "ts" | "date" =>
      // year = everything before the first '-' past position 0 (a
      // leading '-' is a negative year's sign; '+' parses natively)
      def split(s: String): (Long, String) = {
        val i = s.indexOf('-', 1)
        (s.substring(0, i).toLong, s.substring(i))
      }
      val (ya, ra) = split(a)
      val (yb, rb) = split(b)
      if (ya != yb) java.lang.Long.compare(ya, yb) else ra.compareTo(rb)
    case _ => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The Spark row schema Spark's writer stored in file `f`'s footer
    * (key `org.apache.spark.sql.parquet.row.metadata`): one metadata
    * read, no `spark.read` schema-inference job. None for a file not
    * written by Spark. Partition columns live in directory names, not
    * in the file, so they are absent. */
  def sparkSchema(conf: Configuration, f: Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(org.apache.spark.sql.types.DataType.fromJson)
      .collect { case s: org.apache.spark.sql.types.StructType => s }
    finally reader.close()
  }

  /** One footer open, all requested columns extracted. */
  private def fileMaxAll(conf: Configuration, f: Path,
      columns: Seq[String]): Map[String, DirStat] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try {
      val footer = reader.getFooter
      columns.map(c => c -> footerMax(footer, c)).toMap
    } finally reader.close()
  }

  private def footerMax(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      column: String): DirStat = {
    val schema = footer.getFileMetaData.getSchema
    // top-level primitive columns only: nested paths have per-level
    // null semantics footer stats can't summarize safely
    if (!schema.containsField(column)) return Unusable
    val field = schema.getType(Seq(column): _*)
    if (!field.isPrimitive) return Unusable
    val prim = field.asPrimitiveType()
    val kr = renderer(prim) match {
      case Some(x) => x
      case None => return Unusable
    }
    var acc: Option[Comparable[Any]] = None
    val it = footer.getBlocks.iterator()
    while (it.hasNext) {
      val block = it.next()
      val chunk = block.getColumns.stream()
        .filter(c => c.getPath.size() == 1 &&
          c.getPath.iterator().next() == column)
        .findFirst()
      if (!chunk.isPresent) return Unusable
      val stats = chunk.get().getStatistics
      // stats == null / isEmpty: the writer recorded nothing;
      // INT96's deprecated ordering also lands here. A chunk of
      // only NULLs (hasNonNullValue false) contributes no value
      // but doesn't poison the lookup.
      if (stats == null || stats.isEmpty) return Unusable
      if (stats.hasNonNullValue) {
        val v = stats.genericGetMax.asInstanceOf[Comparable[Any]]
        if (acc.forall(_.compareTo(v) < 0)) acc = Some(v)
      }
    }
    acc match {
      case Some(v) => MaxValue(kr._1, kr._2(v))
      case None => NoValue
    }
  }

  private def listParquet(fs: FileSystem, dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) listParquet(fs, st.getPath)
      else if (st.getPath.getName.endsWith(".parquet"))
        Seq(st.getPath)
      else Nil
    }
  }

  /** (kind, renderer) for a primitive column's stat values, by logical
    * type; None for types whose rendering is not trivially
    * session-stable (INT96, FLOAT/DOUBLE scientific edges, DECIMAL
    * scale choices) — those fall back to scanning. */
  private def renderer(prim: org.apache.parquet.schema.PrimitiveType)
      : Option[(String, Any => String)] = {
    val logical = prim.getLogicalTypeAnnotation
    (prim.getPrimitiveTypeName, logical) match {
      case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) =>
        val perSecond = ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1000000L
          case LogicalTypeAnnotation.TimeUnit.NANOS => 1000000000L
        }
        Some(("ts", { v =>
          val x = v.asInstanceOf[Long]
          val secs = Math.floorDiv(x, perSecond)
          val frac = Math.floorMod(x, perSecond)
          val micros = frac * (1000000L / perSecond) // MILLIS/MICROS
          val ldt = java.time.LocalDateTime.ofEpochSecond(
            secs,
            (if (perSecond == 1000000000L) frac else micros * 1000L).toInt,
            java.time.ZoneOffset.UTC)
          // render exactly as Spark's own cast-to-string does — no
          // fraction at second precision, trailing zeros trimmed — so
          // the value is bit-identical either way it was derived.
          // NANOS floors to micros: a Spark timestamp literal cannot
          // carry sub-microsecond digits (and Spark only reads NANOS
          // columns through the same truncation — Tables.load), so the
          // rendered value is the exact MAX of the micros domain the
          // consumer compares in; floor is monotone, so folding
          // truncated per-file maxima still yields the table's
          // truncated maximum. The guard must be on the MICROS
          // remainder — a sub-microsecond-only fraction used to render
          // a bare trailing dot, which ANSI cast-to-timestamp rejects.
          val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-" +
            f"${ldt.getDayOfMonth}%02d ${ldt.getHour}%02d:" +
            f"${ldt.getMinute}%02d:${ldt.getSecond}%02d"
          val microFrac = ldt.getNano / 1000
          if (microFrac == 0) base
          else base + "." +
            f"$microFrac%06d".reverse.dropWhile(_ == '0').reverse
        }))
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) =>
        Some(("date", v => java.time.LocalDate
          .ofEpochDay(v.asInstanceOf[Integer].longValue()).toString))
      // plain or int-annotated integrals only: a DECIMAL annotation
      // over INT32/INT64 stores UNSCALED values, which toString would
      // render wrong
      case (PrimitiveTypeName.INT32, null) => Some(("int", _.toString))
      // SIGNED int annotations only: parquet orders UINT stats
      // unsigned, but the signed toString/compare here would rank a
      // UINT64 ≥ 2^63 below every positive value — conservative
      // Unusable, like every other non-trivially-renderable type
      case (PrimitiveTypeName.INT32, i: LogicalTypeAnnotation
          .IntLogicalTypeAnnotation) if i.isSigned =>
        Some(("int", _.toString))
      case (PrimitiveTypeName.INT64, null) => Some(("int", _.toString))
      case (PrimitiveTypeName.INT64, i: LogicalTypeAnnotation
          .IntLogicalTypeAnnotation) if i.isSigned =>
        Some(("int", _.toString))
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
        Some(("str", v => v.asInstanceOf[Binary].toStringUsingUTF8))
      case _ => None
    }
  }
}
