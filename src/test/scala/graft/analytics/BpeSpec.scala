package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class BpeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Reference BPE trainer: plain Scala over a word-count map, the
    * textbook algorithm (greedy-left apply, count-then-lex argmax). */
  private def referenceBpe(wordCounts: Map[String, Long], k: Int)
      : Seq[(String, String, Long)] = {
    var segs = wordCounts.map { case (w, c) =>
      (w.map(_.toString).toVector, c)
    }
    val out = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((seg, c) <- segs; i <- 0 until seg.length - 1)
        counts((seg(i), seg(i + 1))) =
          counts.getOrElse((seg(i), seg(i + 1)), 0L) + c
      if (counts.nonEmpty) {
        val ((a, b), c) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        out += ((a, b, c))
        segs = segs.map { case (seg, wc) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < seg.length) {
            if (i + 1 < seg.length && seg(i) == a && seg(i + 1) == b) {
              merged += (a + b); i += 2 // greedy left-to-right
            } else { merged += seg(i); i += 1 }
          }
          (merged.result(), wc)
        }
      }
    }
    out.result()
  }

  test("distributed merges equal the reference implementation") {
    // "abab" words force back-to-back occurrences of the top pair —
    // the case where a boundary-sharing replace scheme under-merges
    val docs = Seq("low lower lowest low low",
      "newer newest new low wider", "abab abab ab abab").toDF("text")
    val words = Bpe.wordTable(docs, "text")
    val got = Bpe.trainMerges(words, 6)
      .map(m => (m.left, m.right, m.pair_count))

    val wc = docs.as[String].collect()
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    assert(got == referenceBpe(wc, 6))
  }

  test("extreme-vocab guard fails loud BEFORE collecting the vocab") {
    val docs = Seq("low lower lowest low low",
      "newer newest new low wider").toDF("text")
    val words = Bpe.wordTable(docs, "text")
    // a synthetic over-budget limit: even this tiny vocab's estimate
    // (per-row overhead + seg chars) exceeds a 100-byte budget
    val e = intercept[IllegalArgumentException] {
      Bpe.trainMerges(words, 2, maxVocabBytes = 100L)
    }
    assert(e.getMessage.contains("vocabulary too large"))
    assert(e.getMessage.contains("100-byte budget"))
    // same vocab under the default budget trains fine
    assert(Bpe.trainMerges(words, 2).size == 2)
  }

  test("merges on testdata are deterministic and well-formed") {
    val q = Bpe.qBpeMerges.build(spark, "/root/testdata/sf0.001")
      .collect()
    val again = Bpe.qBpeMerges.build(spark, "/root/testdata/sf0.001")
      .collect()
    assert(q.toSeq == again.toSeq && q.length == 8)
    q.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0)
    }
    // ranks are 1..k in order and pair counts never increase faster
    // than the vocabulary allows (merged symbols are reusable, so
    // counts need not be monotone — but rank order must be)
    assert(q.map(_.getInt(0)).toSeq == (1 to 8))
  }

  test("oracle data-margin guard: ASCII corpus, k live merge rounds") {
    // The q78/q79/q81 DuckDB oracle breaks ties in the per-round
    // argmax lexicographically; Scala compares UTF-16 code units while
    // DuckDB compares UTF-8 bytes, and the two orders coincide only
    // when every symbol stays in ASCII. It also unrolls exactly
    // Bpe.QueryMerges rounds, which requires the corpus to sustain
    // that many non-empty pair tables. A regenerated testdata corpus
    // that violates either assumption must fail HERE with a named
    // reason, not at the driver gate as an opaque hash mismatch.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val words = Bpe.wordTable(
        graft.io.Tables.load(spark, d, "documents"), "text")
        .select("w").collect().map(_.getString(0))
      val nonAscii = words.filter(_.exists(_ >= 0x80))
      assert(nonAscii.isEmpty,
        s"$d: non-ASCII tokens would decouple Scala/DuckDB collation " +
          s"in the BPE argmax tie-break: ${nonAscii.take(3).mkString(",")}")
      assert(Bpe.trainedMerges(spark, d, Bpe.QueryMerges)
        .length == Bpe.QueryMerges,
        s"$d: corpus ran out of pairs before ${Bpe.QueryMerges} rounds " +
          "(the unrolled oracle assumes k live rounds)")
    }
  }

  test("apply side: subword counts match the reference segmentation") {
    import org.apache.spark.sql.functions._
    val docs = Seq("low lower lowest low low",
      "newer newest new low wider", "abab abab ab abab").toDF("text")
    val words = Bpe.wordTable(docs, "text")
    val merges = Bpe.trainMerges(words, 6)

    // reference apply: greedy-left merge loop per word
    def refApply(w: String): Int = {
      var seg = w.map(_.toString).toVector
      for (m <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < seg.length) {
          if (i + 1 < seg.length && seg(i) == m.left &&
              seg(i + 1) == m.right) { out += m.merged; i += 2 }
          else { out += seg(i); i += 1 }
        }
        seg = out.result()
      }
      seg.length
    }

    val got = words
      .withColumn("n_sub", Bpe.subwordCount(col("seg"), merges))
      .select("w", "n_sub").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    got.foreach { case (w, n) => assert(n == refApply(w), s"word $w") }
    // every merge strictly compresses the words containing its pair
    assert(got("lower") < "lower".length)
  }

  test("token-count packing conserves totals against the tokenize view") {
    val Dir = "/root/testdata/sf0.001"
    val packs = Bpe.qBpePacking.build(spark, Dir).collect()
    val totals = Bpe.qBpeTokenize.build(spark, Dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val packedTotals = packs.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    assert(packedTotals == totals) // same corpus token count, re-binned
    // pack ids consecutive from 0 within each source
    packs.groupBy(_.getString(0)).foreach { case (_, ps) =>
      val ids = ps.map(_.getLong(1)).sorted.toSeq
      assert(ids == (0L until ids.length).toSeq)
    }
  }
}
