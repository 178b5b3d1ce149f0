package graft.analytics

import java.util.zip.Deflater

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables
import graft.ops.Exact
import graft.queries.Q

/** Compression-ratio quality signal (the CCNet/RefinedWeb heuristic):
  * highly repetitive or templated text deflates far below natural
  * prose, so `compressed/raw` is a cheap noise detector that needs no
  * language resources at all.
  *
  * The codec is the JDK's zlib (`java.util.zip.Deflater`) behind
  * `mapPartitions` — the same justified escape hatch as
  * [[Multimodal]]: an opaque byte-level codec is not expressible as a
  * Catalyst expression. Scale shape is ideal regardless: scan-local
  * per-row work, one reused Deflater per partition (no per-row
  * allocation), zero shuffles until the caller aggregates. Level and
  * strategy are pinned so the ratio is deterministic for a given
  * zlib; the driver check is rows-only because DuckDB has no deflate
  * to mirror (the ScalaTest spec asserts the semantics instead:
  * repetitive < prose < random, determinism across runs).
  */
object Compress {

  val Level = Deflater.BEST_SPEED // pinned; ratio ordering is stable

  /** documents + (n_bytes, n_deflated): one pass, partition-local. */
  def withDeflateSizes(docs: DataFrame): DataFrame = {
    val schema = docs.schema
      .add("n_bytes", LongType).add("n_deflated", LongType)
    val textIdx = docs.schema.fieldIndex("text")
    docs.mapPartitions { rows =>
      val deflater = new Deflater(Level, /*nowrap=*/ true)
      // Release native zlib buffers deterministically at task end
      // rather than waiting for finalization (a long bench run would
      // otherwise accumulate native memory across hundreds of tasks).
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](1 << 16)
      rows.map { r =>
        // Total over nullable text, like every Catalyst text op in
        // this tier (md5(NULL)=NULL): NULL text → NULL sizes, not an
        // NPE that kills the task.
        if (r.isNullAt(textIdx))
          Row.fromSeq(r.toSeq :+ null :+ null)
        else {
          val bytes = r.getString(textIdx)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var total = 0L
          while (!deflater.finished())
            total += deflater.deflate(buf)
          Row.fromSeq(r.toSeq :+ bytes.length.toLong :+ total)
        }
      }
    }(Encoders.row(schema))
  }

  /** Per-doc deflate ratio in exact 1e-4 units (integer math on the
    * two sizes, so re-runs hash identically). CODEC COLUMNS ONLY —
    * the rows-only remainder is exactly what DuckDB cannot mirror
    * (deflated byte counts); the relational half (raw byte lengths,
    * size buckets) is q111 below with a real oracle. */
  val qCompressRatio: Q = Q.noOracle("q70_compress_ratio") { (s, d) =>
    // project BEFORE the mapPartitions boundary: an opaque row-mapper
    // blocks Catalyst's column pruning, so the scan would otherwise
    // read every documents column for a two-column query
    withDeflateSizes(Tables.load(s, d, "documents")
        .select("doc_id", "text"))
      .select(col("doc_id"), col("n_deflated"),
        Exact.dec4(Exact.halfUpDiv(col("n_deflated") * 10000,
          col("n_bytes"))).as("deflate_ratio"))
      .orderBy("doc_id")
  }

  /** Relational half of the compression signal, oracle-certified: the
    * raw UTF-8 byte length [[withDeflateSizes]] computes on its way to
    * the codec, plus the KiB size bucket downstream curation bins on.
    * Runs the REAL mapPartitions plumbing (same path as q70) and
    * selects only the columns DuckDB's octet_length-over-encode can
    * mirror, so the codec remainder above stays minimal. */
  val qCompressMeta: Q = Q(
    "q111_compress_meta",
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(text)) // 1024 AS BIGINT) AS kb_bucket
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    // pre-mapPartitions projection, as in q70: keeps the parquet scan
    // at ReadSchema [doc_id, text]
    withDeflateSizes(Tables.load(s, d, "documents")
        .select("doc_id", "text"))
      .select(col("doc_id"), col("n_bytes"),
        Exact.floorDiv(col("n_bytes"), lit(1024)).as("kb_bucket"))
      .orderBy("doc_id")
  }
}
