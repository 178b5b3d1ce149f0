package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Exact

/** Seeded randomized properties for the cross-engine determinism
  * backbone (the primitives every oracle-checked query leans on) and
  * for the clustering operator, against independent reference
  * implementations. Fixed seeds: failures reproduce exactly. */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("halfUpDiv == BigDecimal HALF_UP division on random inputs") {
    val rnd = new Random(42)
    val pairs = List.fill(500)(
      (rnd.nextLong(1L << 40), 1L + rnd.nextLong(1L << 20)))
    val got = pairs.toDF("num", "den")
      .select(Exact.halfUpDiv(col("num"), col("den")).as("q"))
      .collect().map(_.getLong(0)).toSeq
    val want = pairs.map { case (n, d) =>
      new java.math.BigDecimal(n)
        .divide(new java.math.BigDecimal(d), 0,
          java.math.RoundingMode.HALF_UP).longValueExact()
    }
    assert(got == want)
  }

  test("floorDiv == Math.floorDiv for non-negative numerators") {
    val rnd = new Random(43)
    val pairs = List.fill(500)(
      (rnd.nextLong(1L << 40), 1L + rnd.nextLong(1L << 20)))
    val got = pairs.toDF("a", "b")
      .select(Exact.floorDiv(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == pairs.map { case (a, b) => Math.floorDiv(a, b) })
  }

  test("dec2 renders with pinned 2-decimal scale for any cents value") {
    val rnd = new Random(44)
    val cents = List.fill(300)(rnd.nextLong(1L << 45))
    val rendered = cents.toDF("c")
      .select(Exact.dec2(col("c")).cast("string"))
      .collect().map(_.getString(0)).toSeq
    rendered.zip(cents).foreach { case (s, c) =>
      assert(s.matches("-?\\d+\\.\\d{2}"), s)
      assert(new java.math.BigDecimal(s).movePointRight(2)
        .longValueExact() == c)
    }
  }

  test("clusterPairs == reference union-find on random graphs") {
    val rnd = new Random(45)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(39)
      val m = 1 + rnd.nextInt(60)
      val edges = List.fill(m)(
          (rnd.nextLong(n.toLong + 1), rnd.nextLong(n.toLong + 1)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        // shared reference union-find (TestRefs): min-member labels
        val canon = graft.TestRefs.minLabels(
          edges.flatMap(e => Seq(e._1, e._2)).distinct, edges)

        val got = graft.analytics.NearDup
          .clusterPairs(edges.toDF("a_id", "b_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == canon, s"trial $trial: $edges")
      }
    }
  }

  test("incremental dedup over random batch splits == one-shot") {
    val rnd = new Random(46)
    for (trial <- 1 to 3) {
      // texts drawn from a small pool force cross-batch duplicates
      val pool = Vector.fill(8)(
        List.fill(4)(rnd.alphanumeric.take(5).mkString).mkString(" "))
      val nDocs = 30 + rnd.nextInt(40)
      val docs = (1L to nDocs.toLong)
        .map(i => i -> pool(rnd.nextInt(pool.size)))
      // random contiguous split in arrival (id) order
      val nBatches = 2 + rnd.nextInt(3)
      val cutsRaw = List.fill(nBatches - 1)(rnd.nextInt(nDocs)).sorted
      val chunks = (0 :: cutsRaw).zip(cutsRaw :+ nDocs)
        .map { case (a, b) => docs.slice(a, b) }
      val store = new graft.io.ModelStore(java.nio.file.Files
        .createTempDirectory(s"graft-prop-dedup$trial").toString)
      chunks.zipWithIndex.filter(_._1.nonEmpty).foreach {
        case (chunk, i) =>
          graft.analytics.IncrementalDedup.applyBatch(spark, store,
            "d", "fps",
            chunk.toDF("doc_id", "text").select(col("doc_id"),
              md5(graft.analytics.TextOps.normalized(col("text")))
                .as("content_fp")),
            i.toLong): Unit
      }
      val got = store.read(spark, "d", "fps").get
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // JVM reference: first copy per normalized text
      val want = docs
        .groupBy(_._2.trim.toLowerCase.replaceAll("\\s+", " "))
        .values.map(_.map(_._1).min).toSet
      assert(got == want, s"trial $trial")
    }
  }

  test("rebalance audit == JVM md5-threshold reference on random shares") {
    val rnd = new Random(47)
    val langs = Vector("aa", "bb", "cc", "dd")
    for (trial <- 1 to 4) {
      val docs = (1L to (80 + rnd.nextInt(120)).toLong)
        .map(i => i -> langs(rnd.nextInt(langs.size)))
      // random integer shares summing to 100
      val cuts = List.fill(langs.size - 1)(rnd.nextInt(101)).sorted
      val parts = (0 :: cuts).zip(cuts :+ 100).map { case (a, b) => b - a }
      val shares = langs.zip(parts.map(_.toLong)).toMap
      val df = docs.toDF("doc_id", "lang")
      import graft.analytics.Curation
      val kept = Curation.rebalanceWith(df, Curation.rebalanceRates(df, shares))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // independent JVM reference of the whole threshold pipeline
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String =
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val counts = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val total = docs.size.toLong
      val want = docs.filter { case (id, lang) =>
        val n = counts(lang)
        val target = total * shares(lang) / 100
        val rate = math.min(256L, target * 256 / n)
        rate >= 256 ||
          md5hex(s"bal-$id").substring(0, 2) < "%02x".format(rate)
      }.map(_._1).toSet
      assert(kept == want, s"trial $trial shares=$shares")
    }
  }

  test("containment == reference shingle-set computation on random " +
      "corpora") {
    import graft.analytics.NearDup
    val rnd = new Random(47)
    for (trial <- 1 to 5) {
      val vocab = (1 to 25).map(i => s"v$i")
      val docs = (0L until 12L).map { id =>
        val len = 3 + rnd.nextInt(25)
        (id, List.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // reference: distinct 3-shingle sets, df-cap, directional rule
      val sh = docs.map { case (id, t) =>
        id -> t.split("\\s+").sliding(3).filter(_.size == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
      val df = sh.values.flatten.toSeq.groupBy(identity)
        .view.mapValues(_.size).toMap
      val kept = sh.view.mapValues(
        _.filter(s => df(s) <= NearDup.MaxDf)).toMap
      val want = (for {
        (a, sa) <- kept.toSeq; (b, sb) <- kept.toSeq
        if a != b && sa.nonEmpty
        ni = (sa intersect sb).size.toLong
        if ni * 10000 >= sa.size.toLong * 8000 && ni > 0
      } yield (a, b, ni, sa.size.toLong)).toSet
      // q98's path: posting lists → pair counts → directional tests
      val (pairs, sizes) = NearDup.pairCountsFromLists(NearDup.postingLists(
        NearDup.shingleIndex(docs.toDF("doc_id", "text"), "doc_id",
          col("text")), "doc_id"), "doc_id")
      val got = NearDup.containmentFromCounts(pairs, sizes, identity)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == want, s"trial $trial")
    }
  }

  test("canonical selection invariants hold on random corpora") {
    import graft.analytics.NearDup
    val rnd = new Random(48)
    for (trial <- 1 to 3) {
      val vocab = (1 to 20).map(i => s"w$i")
      val docs = (0L until 14L).map { id =>
        val len = 3 + rnd.nextInt(20)
        (id, List.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val clusters = NearDup.dedupCorpus(df, "doc_id", col("text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val words = docs.map { case (id, t) =>
        id -> t.split("\\s+").length.toLong }.toMap
      val rows = NearDup.canonicalSelection(
          NearDup.dedupCorpus(df, "doc_id", col("text")), df).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // one row per distinct cluster label; sizes sum to the corpus
      assert(rows.keySet == clusters.values.toSet, s"trial $trial")
      assert(rows.values.map(_._2).sum == docs.size.toLong)
      rows.foreach { case (label, (canonical, nDocs, best)) =>
        val members = clusters.filter(_._2 == label).keys.toSet
        assert(members.contains(canonical), s"trial $trial $label")
        assert(nDocs == members.size.toLong)
        assert(best == members.map(words).max)
        // the canonical is the SMALLEST id among the longest members
        assert(canonical == members.filter(words(_) == best).min,
          s"trial $trial $label")
      }
    }
  }
}
