package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Multimodal plumbing: ingest schema, partition-parallel decode,
  * determinism of the stub feature extractor. */
class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "hello world", "en", "srcA", 11L),
    (2L, "spark engine", "en", "srcA", 12L),
    (3L, "données", "fr", "srcB", 7L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("asMedia: binary payload + typed metadata schema") {
    val media = Multimodal.asMedia(docs)
    val schema = media.schema.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("payload") == "binary")
    assert(schema("n_bytes") == "long")
    val r = media.filter($"doc_id" === 1L).head()
    assert(r.getAs[Long]("n_bytes") == 11L)
    // UTF-8 multi-byte payload measured in bytes, not chars
    val fr = media.filter($"doc_id" === 3L).head()
    assert(fr.getAs[Long]("n_bytes") == 8L)   // é is 2 bytes
  }

  test("media metadata aggregate (q110 relational half): per-source " +
      "counts and UTF-8 byte totals") {
    val out = Multimodal.asMedia(docs)
      .groupBy("source", "mime")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_items"),
        org.apache.spark.sql.functions.sum("n_bytes").as("total_bytes"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("srcA") == (("text/plain", 2L, 11L + 12L)))
    assert(out("srcB") == (("text/plain", 1L, 8L)))   // bytes, not chars
  }

  test("decodeImage: real PNG decodes to dimensions + exact mean luma; " +
      "non-images fall back to the stub") {
    // 3×2 PNG with known pixels, written through the same JDK codec
    // the decoder reads with
    val img = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val pixels = Seq(                       // (x, y, rgb, luma)
      (0, 0, 0xffffff, 255), (1, 0, 0x000000, 0), (2, 0, 0xff0000, 85),
      (0, 1, 0x00ff00, 85), (1, 1, 0x0000ff, 85), (2, 1, 0x808080, 128))
    pixels.foreach { case (x, y, rgb, _) => img.setRGB(x, y, rgb) }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val png = buf.toByteArray

    val media = Seq(
      (10L, "imgs", png, "image/png", png.length.toLong),
      (11L, "imgs", "not an image".getBytes("UTF-8"), "text/plain", 12L))
      .toDF("doc_id", "source", "payload", "mime", "n_bytes")
    val out = Multimodal.decodeImageFeatures(spark, media)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    val decoded = out(10L)
    assert(decoded.getAs[Boolean]("decoded"))
    assert(decoded.getAs[Int]("width") == 3)
    assert(decoded.getAs[Int]("height") == 2)
    val expectedLuma = pixels.map(_._4).sum.toDouble / pixels.size
    assert(math.abs(decoded.getAs[Double]("mean_luma") - expectedLuma)
      < 1e-12)

    val fallback = out(11L)
    assert(!fallback.getAs[Boolean]("decoded"))
    assert(fallback.getAs[Long]("checksum") ==
      Multimodal.fakeDecode(Multimodal.MediaItem(11L, "imgs",
        "not an image".getBytes("UTF-8"), "text/plain", 12L)).checksum)
  }

  test("decodeFeatures: deterministic, schema stable, per-item correct") {
    // text payloads are not images: q31's decoder serves every item
    // through the fakeDecode fallback
    val media = Multimodal.asMedia(docs)
    val d1 = Multimodal.decodeImageFeatures(spark, media)
    val d2 = Multimodal.decodeImageFeatures(spark, media)
    assert(d1.schema == d2.schema)
    val r1 = d1.collect()
    assert(r1.forall(!_.getAs[Boolean]("decoded")))
    val f1 = r1
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("checksum")).toMap
    val f2 = d2.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("checksum")).toMap
    assert(f1 == f2)
    // reference checksum computed in plain Scala
    val expected = Multimodal.fakeDecode(Multimodal.MediaItem(
      1L, "srcA", "hello world".getBytes("UTF-8"), "text/plain", 11L))
    assert(f1(1L) == expected.checksum)
  }
}
