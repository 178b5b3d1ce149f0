package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.Q

/** Perceptual image near-dup: 64-bit difference hash (dHash) over the
  * decoded luma grid, clustered through the banded-Hamming machinery
  * the text SimHash family certified (q26's 16-bit bands + bucket cap,
  * q39's fixpoint clustering).
  *
  * dHash (the standard perceptual fingerprint: Krawetz's public
  * description, the `imagehash`/pHash family) is re-encode and
  * photometric-shift robust where byte-exact dedup is blind: a PNG and
  * a BMP of the SAME pixels hash identically (distance 0), a global
  * brightness shift preserves every horizontal gradient bit, while
  * unrelated images land ~32 bits apart. The hash bytes are
  * JDK-codec-derived (`javax.imageio`), so the split follows the
  * q31→q110 pattern exactly: the dHash pipeline itself is the
  * rows-only q127 (spec-proven on planted PNG↔BMP re-encodes that
  * byte-exact dedup misses), and the band/verify/cluster half runs
  * verbatim in q128 over a hash BOTH engines compute (xxhash64 of the
  * payload text — the DuckHash string replica), where it is
  * oracle-certified end-to-end including the transitive closure.
  *
  * Scale shape: the hash is scan-local (one mapPartitions decode pass,
  * the justified codec escape hatch); banding explodes ×4; the bucket
  * cap bounds the candidate self-join exactly as q26; clustering is
  * the shared bounded union-find / distributed-fixpoint split. Nothing
  * is all-pairs.
  */
object ImageDedup {

  /** dHash grid: 9×8 block lumas → 8 horizontal comparisons × 8 rows
    * = 64 bits. */
  val GridW = 9
  val GridH = 8

  /** One hashed media item. `decoded` records whether the perceptual
    * path ran (an image the JDK could decode at ≥ grid size) or the
    * byte-level fallback did — downstream treats both as opaque 64-bit
    * fingerprints, so the operator is total over arbitrary binary. */
  final case class ImageHash(doc_id: Long, source: String,
      decoded: Boolean, dhash: Long)

  /** 64-bit dHash of a media payload: decode (`javax.imageio`),
    * block-average the pixels into a [[GridW]]×[[GridH]] luma grid
    * (per-block stride subsampling caps work at ≤64 samples per block
    * regardless of resolution — the q31 decode discipline), then bit
    * (row, col) = 1 iff luma(row, col+1) > luma(row, col). Payloads
    * that don't decode (or are smaller than the grid) take a
    * deterministic byte-level 64-bit rolling hash instead, so
    * byte-identical non-image payloads still cluster (distance 0). */
  def dHash(item: Multimodal.MediaItem): ImageHash = {
    val payload =
      if (item.payload == null) Array.emptyByteArray else item.payload
    val img =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case _: Exception => None }
    img match {
      case Some(im) if im.getWidth >= GridW && im.getHeight >= GridH =>
        val w = im.getWidth
        val h = im.getHeight
        val luma = Array.ofDim[Double](GridH, GridW)
        var gy = 0
        while (gy < GridH) {
          var gx = 0
          while (gx < GridW) {
            val x0 = gx * w / GridW; val x1 = (gx + 1) * w / GridW
            val y0 = gy * h / GridH; val y1 = (gy + 1) * h / GridH
            val sx = math.max(1, (x1 - x0) / 8)
            val sy = math.max(1, (y1 - y0) / 8)
            var sum = 0L
            var n = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = im.getRGB(x, y)
                sum += ((rgb >> 16 & 0xff) + (rgb >> 8 & 0xff) +
                  (rgb & 0xff)) / 3
                n += 1
                x += sx
              }
              y += sy
            }
            luma(gy)(gx) = sum.toDouble / n
            gx += 1
          }
          gy += 1
        }
        var bits = 0L
        gy = 0
        while (gy < GridH) {
          var gx = 0
          while (gx < GridW - 1) {
            if (luma(gy)(gx + 1) > luma(gy)(gx))
              bits |= 1L << (gy * (GridW - 1) + gx)
            gx += 1
          }
          gy += 1
        }
        ImageHash(item.doc_id, item.source, decoded = true, bits)
      case _ =>
        // byte-level fallback: 64-bit multiplicative rolling hash
        // (JVM Long arithmetic wraps — this runs outside SQL, so ANSI
        // overflow rules don't apply). Identical payloads → identical
        // hash; the perceptual claims hold only for the decoded arm.
        var hh = 1125899906842597L
        var i = 0
        while (i < payload.length) {
          hh = hh * 31 + (payload(i) & 0xff)
          i += 1
        }
        ImageHash(item.doc_id, item.source, decoded = false, hh)
    }
  }

  /** Partition-parallel dHash over the typed media Dataset (the
    * [[Multimodal.decodeImageFeatures]] seat). */
  def dHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[Multimodal.MediaItem].mapPartitions(_.map(dHash)).toDF()
  }

  /** Banded-Hamming near-dup clustering over ANY 64-bit fingerprint
    * relation `(id, hash)` → `(id, keep_id)`; `id != keep_id` ⇒ drop
    * as near-duplicate of something transitively within
    * [[NearDup.MaxHamming]] bits. The machinery is q26's verbatim —
    * 4×16-bit bands (pigeonhole-lossless at the radius), the
    * [[NearDup.MaxBucket]] degenerate-bucket cap, one Hamming check
    * per distinct candidate pair — with q39's fixpoint clustering as
    * the tail. Shared by the dHash query (q127) and its
    * oracle-certified twin (q128), so the certified code path IS the
    * perceptual one. */
  def hammingClusters(hashes: DataFrame): DataFrame = {
    val sims = hashes.select(col("id"), col("hash")).persist()
    val bands = sims.select(col("id"), col("hash"),
        posexplode(array((0 until NearDup.SimBands).map(bd =>
          expr(s"shiftright(hash, ${bd * 16}) & 65535")): _*))
          .as(Seq("band_idx", "band_val")))
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_val")))
      .filter(col("bucket_n") <= NearDup.MaxBucket)
      .drop("bucket_n")
      .persist()
    val a = bands.as("a")
    val b = bands.as("b")
    val candidates = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    val ha = sims.select(col("id").as("a_id"), col("hash").as("h_a"))
    val hb = sims.select(col("id").as("b_id"), col("hash").as("h_b"))
    val verified = candidates
      .join(ha, Seq("a_id")).join(hb, Seq("b_id"))
      .filter(expr("bit_count(h_a ^ h_b)") <= NearDup.MaxHamming)
      .select(col("a_id"), col("b_id"))
    // clusterPairs is eager (bounded probe / fixpoint inside), so the
    // band cache is consumed before the unpersist below
    val clustered = NearDup.clusterPairs(verified)
    bands.unpersist()
    val out = sims.select(col("id"))
      .join(clustered.withColumnRenamed("doc_id", "id"), Seq("id"),
        "left")
      .select(col("id"), coalesce(col("keep_id"), col("id"))
        .as("keep_id"))
    sims.unpersist()
    out
  }

  // Rows-only driver check, CODEC COLUMNS ONLY (the dHash bits are
  // ImageIO decode output DuckDB cannot produce — the q31 split): the
  // full perceptual pipeline over the corpus payloads, hash → band →
  // Hamming verify → cluster. On text payloads every item takes the
  // byte-level fallback arm (exact-dup texts cluster at distance 0);
  // the PERCEPTUAL arm — PNG↔BMP re-encodes and brightness shifts
  // that byte-exact dedup misses — is pinned by ImageDedupSpec on
  // planted real images. The band/verify/cluster half runs verbatim
  // in q128, where it is oracle-certified.
  val qImgDhash: Q = Q.noOracle("q127_img_dhash") { (s, d) =>
    val media = Multimodal.asMedia(Tables.load(s, d, "documents"))
    val hashed = dHashes(s, media)
    hammingClusters(hashed
        .select(col("doc_id").as("id"), col("dhash").as("hash")))
      .select(col("id").as("doc_id"), col("keep_id"))
      .orderBy("doc_id")
  }

  /** Oracle: the identical band/verify/cluster chain over a
    * fingerprint DuckDB can compute — Spark's `xxhash64(text)` via
    * the [[graft.ops.DuckHash.strChain]] replica — stated as q26's
    * banding (unsigned shifts over the HUGEINT-carried hash, the same
    * bucket-cap window) + one `bit_count(xor)` verify per candidate
    * pair + q39's recursive-CTE transitive closure with min-label
    * canonicalization. */
  private lazy val hashNearDupOracle: String = {
    import graft.ops.DuckHash
    val hx = DuckHash.strChain(
      "SELECT doc_id, text FROM documents", "text", "42", out = "h")
    s"""WITH RECURSIVE sims AS (
       |  SELECT doc_id, h AS hash, ${DuckHash.toU("h")} AS hu
       |  FROM ($hx) hsrc),
       |bands AS (
       |  SELECT doc_id, hash, b.band_idx,
       |         CAST((hu >> CAST(16 * b.band_idx AS INTEGER))
       |              & 65535::UBIGINT AS BIGINT) AS band_val
       |  FROM sims,
       |    (SELECT unnest(range(${NearDup.SimBands})) AS band_idx) b),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val)
       |      AS bn FROM bands) cb WHERE bn <= ${NearDup.MaxBucket}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM capped a JOIN capped b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |p AS (
       |  SELECT a_id, b_id
       |  FROM cand
       |  JOIN sims sa ON sa.doc_id = a_id
       |  JOIN sims sb ON sb.doc_id = b_id
       |  WHERE bit_count(xor(sa.hash, sb.hash))
       |    <= ${NearDup.MaxHamming}),
       |edges AS (
       |  SELECT a_id AS a, b_id AS b FROM p
       |  UNION SELECT b_id, a_id FROM p),
       |r(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a)
       |SELECT d.doc_id,
       |  least(d.doc_id, coalesce(c.mn, d.doc_id)) AS keep_id
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The relational half of the perceptual family, oracle-certified:
    * [[hammingClusters]] — the very code path q127 runs on dHash bits
    * — over a portable fingerprint (xxhash64 of the payload text).
    * Near-matches beyond exact duplicates are astronomically unlikely
    * under a uniform 64-bit hash (the planted byte-level duplicate
    * groups are what cluster), which is the point: the oracle
    * certifies the banding, the bucket cap, the Hamming verify and
    * the transitive closure with NO FALSE POSITIVES, while the spec
    * pins the perceptual arm on real re-encoded images. */
  val qHashNearDup: Q = Q("q128_hash_neardup", hashNearDupOracle) {
    (s, d) =>
      val docs = Tables.load(s, d, "documents")
      hammingClusters(docs
          .select(col("doc_id").as("id"),
            xxhash64(col("text")).as("hash")))
        .select(col("id").as("doc_id"), col("keep_id"))
        .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(qImgDhash, qHashNearDup)
}
