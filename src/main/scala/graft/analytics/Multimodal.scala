package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.Q

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, decoded/feature-extracted per partition.
  *
  * The Spark-side shape is real and tested — binary column + metadata
  * schema, partition-parallel decode (`mapPartitions` over a typed
  * Dataset; the Scala analog of Python's `mapInPandas` batch UDF),
  * aggregation over extracted features. Image decode is REAL for the
  * formats the JDK ships codecs for (PNG/JPEG/BMP/GIF via
  * `javax.imageio`, see [[decodeImage]]); payloads that don't decode
  * fall back to the deterministic byte-level stub [[fakeDecode]]
  * (which also stands in for codecs this container lacks, e.g.
  * video).
  */
object Multimodal {

  /** One media item: payload plus typed metadata. */
  final case class MediaItem(doc_id: Long, source: String,
      payload: Array[Byte], mime: String, n_bytes: Long)

  /** Extracted features per item (stub decoder output). */
  final case class MediaFeatures(doc_id: Long, source: String,
      n_bytes: Long, checksum: Long, feat0: Double)

  /** STUB decoder — deterministic byte-level features standing in for a
    * real image/audio decode (no codecs in this environment). Shape
    * (per-partition batch iteration, bytes → fixed-width features) is
    * exactly what a real decoder plugs into. */
  def fakeDecode(item: MediaItem): MediaFeatures = {
    // NULL payloads (a null source column) decode as empty — every
    // real-decoder path falls back HERE, so totality over null rests
    // on this guard, not on each caller.
    val payload =
      if (item.payload == null) Array.emptyByteArray else item.payload
    var sum = 0L
    var i = 0
    while (i < payload.length) {
      sum = (sum * 31 + (payload(i) & 0xff)) & 0xffffffffL
      i += 1
    }
    MediaFeatures(item.doc_id, item.source, item.n_bytes, sum,
      sum % 1000 / 1000.0)
  }

  // keep ImageIO memory-only: the default disk-backed stream cache is
  // a per-task temp file — wrong trade on an executor decoding
  // millions of small payloads
  javax.imageio.ImageIO.setUseCache(false)

  /** Real decoded-image features (or the stub fallback for payloads
    * that aren't decodable images). */
  final case class ImageFeatures(doc_id: Long, source: String,
      n_bytes: Long, decoded: Boolean, width: Int, height: Int,
      mean_luma: Double, checksum: Long)

  /** REAL image decode for the formats the JDK ships codecs for
    * (PNG/JPEG/BMP/GIF via `javax.imageio` — zero external jars):
    * dimensions + stride-subsampled mean luma as the extracted
    * features. Payloads that don't decode (wrong mime, truncated
    * bytes, text) fall back to [[fakeDecode]]'s deterministic
    * byte-level features, so the operator is total over arbitrary
    * binary columns. */
  def decodeImage(item: MediaItem): ImageFeatures = {
    val img =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(item.payload)))
      catch { case _: Exception => None }
    img match {
      case Some(im) if im.getWidth > 0 && im.getHeight > 0 =>
        val w = im.getWidth
        val h = im.getHeight
        // stride subsampling caps per-item decode work on oversized
        // images (≤ ~64×64 samples regardless of resolution)
        val stepX = math.max(1, w / 64)
        val stepY = math.max(1, h / 64)
        var sum = 0L
        var n = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = im.getRGB(x, y)
            sum += ((rgb >> 16 & 0xff) + (rgb >> 8 & 0xff) + (rgb & 0xff)) / 3
            n += 1
            x += stepX
          }
          y += stepY
        }
        ImageFeatures(item.doc_id, item.source, item.n_bytes,
          decoded = true, w, h, sum.toDouble / n, 0L)
      case _ =>
        val f = fakeDecode(item)
        ImageFeatures(item.doc_id, item.source, item.n_bytes,
          decoded = false, 0, 0, f.feat0, f.checksum)
    }
  }

  /** Partition-parallel image decode over the typed Dataset. */
  def decodeImageFeatures(spark: SparkSession, media: DataFrame)
      : DataFrame = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions(_.map(decodeImage)).toDF()
  }

  /** documents.text → opaque binary payload + metadata (the ingest step
    * a real pipeline does for images/audio blobs). */
  def asMedia(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("source"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("text/plain").as("mime"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
  }

  // Rows-only driver check, CODEC COLUMNS ONLY (ImageIO decode output
  // DuckDB cannot produce); the relational half of this pipeline —
  // item counts, payload byte lengths, format tags — is split out as
  // q110 below with a real DuckDB oracle, so the rows-only remainder
  // is exactly the irreducible codec part. MultimodalSpec asserts
  // determinism + schema + per-item features + a real PNG decode.
  val qMultimodalPipeline: Q = Q.noOracle("q31_multimodal_features") {
    (s, d) =>
      val media = asMedia(Tables.load(s, d, "documents"))
      decodeImageFeatures(s, media)
        .groupBy("source")
        .agg(sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"),
          min("checksum").as("min_checksum"),
          max("checksum").as("max_checksum"))
        .orderBy("source")
  }

  /** Relational half of the multimodal pipeline, oracle-certified:
    * the metadata the ingest step ([[asMedia]]) derives on the REAL
    * binary payload column — item counts, format tag, UTF-8 byte
    * lengths of the payloads — aggregated per (source, mime). DuckDB
    * mirrors octet_length-over-encode exactly, so everything short of
    * the codec bytes themselves gets a hash-matched row. Scale shape:
    * scan-local payload build, one hash aggregation. */
  val qMediaMeta: Q = Q(
    "q110_media_meta",
    """SELECT source, 'text/plain' AS mime,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(count(text) AS BIGINT) AS n_payloads,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(min(octet_length(encode(text))) AS BIGINT) AS min_bytes,
      |  CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
      |FROM documents GROUP BY source
      |ORDER BY source NULLS FIRST, mime""".stripMargin) {
    // NULLS FIRST mirrors Spark's ascending default — a NULL source
    // group (future adversarial fixture) must not become a row-order
    // divergence (the round-6 q101/q103 class); mime in the ORDER BY
    // keeps the order total the day asMedia grows a real mime sniff
    (s, d) =>
      asMedia(Tables.load(s, d, "documents"))
        .groupBy("source", "mime")
        .agg(count(lit(1)).as("n_items"),
          count(col("payload")).as("n_payloads"),
          sum("n_bytes").as("total_bytes"),
          min("n_bytes").as("min_bytes"),
          max("n_bytes").as("max_bytes"))
        .orderBy("source", "mime")
  }

  val all: Seq[Q] = Seq(qMultimodalPipeline, qMediaMeta)
}
