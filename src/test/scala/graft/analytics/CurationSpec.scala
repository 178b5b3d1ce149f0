package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CurationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val Dir = "/root/testdata/sf0.001"

  test("hash sample is deterministic and rates land near targets") {
    val a = Curation.qHashSample.build(spark, Dir).collect()
    val b = Curation.qHashSample.build(spark, Dir).collect()
    assert(a.toSeq == b.toSeq) // pure function of ids — rerun-stable

    val docs = graft.io.Tables.load(spark, Dir, "documents")
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getString(1)).view.mapValues(_.size)
    // md5 is uniform: expect ~25% of en, ~75% of the rest (loose bounds —
    // sf0.001 strata are only ~100 docs each)
    val enRate = kept("en").toDouble / byLang("en")
    assert(enRate > 0.10 && enRate < 0.40, s"en rate $enRate")
    for ((l, n) <- byLang if l != "en") {
      val r = kept.getOrElse(l, 0).toDouble / n
      assert(r > 0.55 && r < 0.95, s"$l rate $r")
    }
  }

  test("holdout split is independent of the sampling key") {
    val docs = graft.io.Tables.load(spark, Dir, "documents")
    // MEASURE the decorrelation, not just the global rate: holdout
    // membership must occur on BOTH sides of the sample split. With
    // an unsalted holdout key (the regression this guards against),
    // holdout ⊂ sample deterministically — both compare the same md5
    // prefix, and HoldoutRate('1') < every sampling threshold — so
    // the out-of-sample holdout count collapses to zero while the
    // global rate stays in band.
    val rows = docs.select(
      (Curation.sampleKey(col("doc_id")) <
        when(col("lang") === "en", Curation.EnRate)
          .otherwise(Curation.RestRate)).as("s"),
      (Curation.sampleKey(col("doc_id"), "holdout-") < Curation.HoldoutRate)
        .as("h"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)))
    val rate = rows.count(_._2).toDouble / rows.length
    assert(rate > 0.01 && rate < 0.15, s"holdout rate $rate")
    val inSample = rows.filter(_._1)
    val outSample = rows.filterNot(_._1)
    assert(inSample.count(_._2) > 0, "no holdout docs inside the sample")
    assert(outSample.count(_._2) > 0, "no holdout docs outside the " +
      "sample — holdout key correlated with the sampling key")
  }

  test("vocabulary cut is deterministic under ties and OOV is bounded") {
    val toks = graft.io.Tables.load(spark, Dir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val v1 = Curation.vocabulary(toks, 16).collect().map(_.getString(0))
    val v2 = Curation.vocabulary(toks, 16).collect().map(_.getString(0))
    assert(v1.toSeq == v2.toSeq && v1.length == 16)

    val out = Curation.qVocabOov.build(spark, Dir).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val n = r.getLong(1); val iv = r.getLong(2)
      val ratio = new java.math.BigDecimal(r.getString(3))
      assert(iv <= n)
      assert(ratio.doubleValue >= 0.0 && ratio.doubleValue <= 1.0)
    }
  }

  test("TopKAgg per-group top-k matches the window-function answer") {
    val docs = graft.io.Tables.load(spark, Dir, "documents")
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val expect = docs
      .select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= Curation.GroupTopK)
      .select(col("lang"), col("rk").cast("int").as("rk"), col("doc_id"),
        col("n_chars"))
      .orderBy("lang", "rk")
    val got = Curation.qTopKPerGroup.build(spark, Dir)
    assert(got.collect().toSeq == expect.collect().toSeq)
  }

  test("tf-idf ranks corpus-rare terms above common ones") {
    val out = Curation.qTfidfKeywords.build(spark, Dir).collect()
    assert(out.length == 500 * Curation.KeywordsPerDoc)
    out.foreach { r =>
      // integer tf-idf: score = tf * ((N*10000) // df), df ≤ N = 500
      val tf = r.getLong(3); val df = r.getLong(4); val score = r.getLong(5)
      assert(score == tf * ((500L * 10000L) / df))
    }
    // within a doc, ranks are strictly ordered by (score desc, term asc)
    out.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (a, b) = (pair(0), pair(1))
          val ka = (-a.getLong(5), a.getString(2))
          val kb = (-b.getLong(5), b.getString(2))
          assert(Ordering.Tuple2[Long, String].lt(ka, kb))
        }
      }
    }
  }

  test("mixture epoch repeats docs per tier and drops downsampled docs") {
    val docs = graft.io.Tables.load(spark, Dir, "documents")
    val out = Curation.qMixtureEpoch.build(spark, Dir).collect()
    val repsByDoc = out.groupBy(_.getLong(0)).view.mapValues(_.length)
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    srcOf.foreach { case (id, src) =>
      val n = repsByDoc.getOrElse(id, 0)
      if (Curation.UpSources.contains(src)) assert(n == 3 || n == 4)
      else if (Curation.MidSources.contains(src)) assert(n == 2)
      else assert(n == 0 || n == 1) // tail tier: 75% kept once
    }
    // some tail docs must actually be dropped AND some kept
    val tailCounts = srcOf.collect {
      case (id, src) if !Curation.UpSources.contains(src) &&
        !Curation.MidSources.contains(src) => repsByDoc.getOrElse(id, 0)
    }.toSeq
    assert(tailCounts.contains(0) && tailCounts.contains(1))
    // shuffle keys are unique across the whole epoch
    assert(out.map(_.getString(3)).distinct.length == out.length)
  }

  test("group top-k aggregates map-side (ObjectHashAggregate, no window)") {
    val plan = Curation.qTopKPerGroup.build(spark, Dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window("))
  }

  test("sequence packing: packs fill to budget and are append-stable") {
    val B = Curation.PackBudget
    val packs = Curation.qSequencePacking.build(spark, Dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bySource = packs.groupBy(_._1)
    bySource.foreach { case (_, ps) =>
      val sorted = ps.sortBy(_._2)
      // consecutive ids from 0 (no doc exceeds the budget in testdata)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      // every non-final pack lands within one doc of the budget
      sorted.init.foreach { case (_, _, _, toks) =>
        assert(toks > B - 200 && toks < B + 200, s"pack tokens $toks")
      }
    }
    // append stability: packing only the first half of each source's
    // docs reproduces the full run's packs except the cut pack
    val docs = graft.io.Tables.load(spark, Dir, "documents")
    val cut = docs.agg(
      org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .collect()(0).getDouble(0).toLong
    // recompute on the subset via a temp dir-free path: reuse the same
    // expressions on a filtered view through a temp view swap
    val full = packs.map(p => (p._1, p._2) -> ((p._3, p._4))).toMap
    val sub = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val toks = docs.filter(col("doc_id") <= cut)
        .select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.withColumn("pack_id",
          graft.ops.Exact.floorDiv(sum("n_tokens").over(w) - 1, lit(B)))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n"), sum("n_tokens").as("t"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    sub.groupBy(_._1).foreach { case (_, ps) =>
      val lastPack = ps.map(_._2).max
      ps.filter(_._2 < lastPack).foreach { case (s, p, n, t) =>
        assert(full((s, p)) == ((n, t)),
          s"pack ($s,$p) changed when later docs were appended")
      }
    }
  }

  test("rebalance: capped languages keep all, downsampled hit target") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.load(spark, Dir, "documents")
    val audit = Curation.qRebalanceMix.build(spark, Dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    audit.foreach { case (lang, (n, target, rate, kept)) =>
      if (rate >= 256) assert(kept == n, s"$lang capped but kept!=n")
      else {
        assert(kept < n, s"$lang should downsample")
        // md5 uniformity: kept ≈ n·rate/256 (generous bound — the
        // point is the exact value is deterministic, not its variance)
        val expect = n * rate / 256.0
        assert(math.abs(kept - expect) <= math.max(5.0, expect),
          s"$lang kept=$kept expected≈$expect")
      }
      assert(target == audit.values.map(_._1).sum *
        Curation.TargetShares(lang) / 100)
    }
    // at least one language exercises each arm on this data
    assert(audit.values.exists(_._3 >= 256))
    assert(audit.values.exists(_._3 < 256))
    // the audit's n_kept IS the kept set's size (operator ≡ report)
    def keptDocs = Curation.rebalanceWith(docs,
      Curation.rebalanceRates(docs, Curation.TargetShares))
    val keptCounts = keptDocs
      .groupBy("lang").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    audit.foreach { case (lang, (_, _, _, kept)) =>
      assert(keptCounts.getOrElse(lang, 0L) == kept)
    }
    // determinism: a second evaluation returns the identical kept ids
    val ids1 = keptDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = keptDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("PII redaction fires and masks on synthesized dirty text " +
      "(testdata is clean — counts there only prove the shape)") {
    val dirty = Seq(
      (1L, "mail me at jane.doe+x@corp.example.com or bob@ex.org ok"),
      (2L, "ssn 123-45-6789 phone 555-123-4567 and +1 555-123-4567"),
      (3L, "nothing sensitive here at all"),
      (4L, "edge: a@b.co ends the line 987-65-4321"))
      .toDF("doc_id", "text")
    val out = Curation.redactPii(dirty).collect()
      .map(r => r.getLong(0) -> r).toMap
    def counts(id: Long) = {
      val r = out(id)
      (r.getAs[Int]("n_emails"), r.getAs[Int]("n_ids"),
        r.getAs[Int]("n_phones"), r.getAs[String]("text_redacted"))
    }
    assert(counts(1L) == ((2, 0, 0,
      "mail me at <EMAIL> or <EMAIL> ok")))
    // the SSN-shaped id is masked as <ID>, not half-eaten by the
    // phone pattern; both phone spellings are caught
    val (e2, i2, p2, t2) = counts(2L)
    assert((e2, i2, p2) == ((0, 1, 2)))
    assert(t2 == "ssn <ID> phone <PHONE> and +1 <PHONE>")
    assert(counts(3L) == ((0, 0, 0, "nothing sensitive here at all")))
    val (e4, i4, _, t4) = counts(4L)
    assert((e4, i4) == ((1, 1)))
    assert(t4 == "edge: <EMAIL> ends the line <ID>")
  }

  test("leakage-safe split: exact duplicates share a fold; proportions " +
      "near 80/10/10; append-stable") {
    val out = Curation.qLeakageSplit.build(spark, Dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.nonEmpty)
    // THE invariant: same fingerprint → same fold, always (exact
    // duplicates can never straddle train/test)
    out.groupBy(_._2).foreach { case (fp, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"fingerprint $fp straddles folds")
    }
    // proportions over distinct fingerprints (the unit the hash
    // splits): loose bands, sf0.001 has few hundred fps
    val byFold = out.map(r => (r._2, r._3)).distinct
      .groupBy(_._2).view.mapValues(_.size).toMap
    val n = out.map(_._2).distinct.length.toDouble
    assert(byFold("train") / n > 0.65 && byFold("train") / n < 0.92)
    assert(byFold.getOrElse("val", 0) > 0 && byFold.getOrElse("test", 0) > 0)
    // append-stability: fold is a pure function of the fingerprint —
    // re-evaluation returns identical assignments
    val again = Curation.qLeakageSplit.build(spark, Dir).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    out.foreach { case (id, _, fold) => assert(again(id) == fold) }
  }

  test("repetition ratio: duplicate trigrams within a doc") {
    val docs = Seq(
      (1L, "a b a b a"),        // trigrams: aba, bab, aba → 1 dup of 3
      (2L, "w x y z"),          // 2 distinct trigrams, 0 dup
      (3L, "one two"),          // < 3 tokens → 0 trigrams
      (4L, "r r r r r r"))      // 4 trigrams all 'r r r' → 3 dup
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rep").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = Curation.qRepetition.build(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "0.3333")))
    assert(out(2L) == ((2L, 0L, "0.0000")))
    assert(out(3L) == ((0L, 0L, "0.0000")))
    assert(out(4L) == ((4L, 3L, "0.7500")))
  }

  test("doc chunking: full coverage, exact overlap, reconstruction") {
    val rows = Curation.qDocChunking.build(spark, Dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val step = Curation.ChunkBudget - Curation.ChunkOverlap
    val docs = graft.io.Tables.load(spark, Dir, "documents")
      .select(col("doc_id"), size(TextOps.tokens(col("text")))
        .cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (docId, chunks) =>
      val n = docs(docId)
      val sorted = chunks.sortBy(_._3)
      // starts stride by budget−overlap from 0; sizes fill the budget
      // except the final chunk, which takes exactly what remains
      sorted.zipWithIndex.foreach { case ((_, cid, start, nt), i) =>
        assert(start == i * step, s"doc $docId chunk $cid start")
        assert(nt == math.min(Curation.ChunkBudget, n - start),
          s"doc $docId chunk $cid size")
      }
      // full coverage: the last chunk reaches the final token
      val (_, _, lastStart, lastN) = sorted.last
      assert(lastStart + lastN == n, s"doc $docId tail uncovered")
      // consecutive chunks overlap by exactly ChunkOverlap tokens
      // (when the next window exists) — so boundary n-grams survive
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, s1, n1), (_, _, s2, _)) =>
          assert(s1 + n1 - s2 == Curation.ChunkOverlap,
            s"doc $docId overlap at $s2")
        case _ =>
      }
      // a doc at or under the budget yields exactly one chunk
      if (n <= Curation.ChunkBudget) assert(sorted.length == 1)
    }
    // every doc is chunked
    assert(rows.map(_._1).toSet == docs.keySet)
  }

  test("training pipeline invariants: unique content, no surviving " +
      "near-dup pair, closed folds, prefix-sum pack assignment") {
    val out = Curation.qTrainingPipeline.build(spark, Dir).persist()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // folds are closed and every row carries a positive token count
    // (NOT the raw 15-word gate bound: PhoneRe can collapse a
    // space-separated phone's 3 tokens into one placeholder)
    assert(rows.map(_.getString(3)).toSet.subsetOf(
      Set("train", "val", "test")))
    assert(rows.forall(_.getLong(4) > 0))

    // survivors carry pairwise-unique content: recompute fingerprints
    // for the surviving ids and assert no two collide
    val ids = rows.map(_.getLong(0)).toSet
    val t = TextOps.tokens(col("text"))
    // the EXACT-DEDUP universe the pipeline capped shingles over —
    // recomputing the df cap over survivors only would resurrect
    // stop-shingles the pipeline dropped and could flag correct output
    val gatedAll = graft.io.Tables.load(spark, Dir, "documents")
      .filter(col("doc_id") % 4 === 0 && size(t) >= 15 &&
        size(filter(t, x => x.isInCollection(TextOps.Stopwords))) >= 1)
      .select(col("doc_id"),
        TextOps.scrubPii(col("text")).as("clean_text"))
      .withColumn("content_fp", TextOps.contentHash(col("clean_text")))
    val exactUniverse = gatedAll.join(
      gatedAll.groupBy("content_fp").agg(min("doc_id").as("doc_id")),
      Seq("content_fp", "doc_id"))
    val nFp = exactUniverse.filter(col("doc_id").isInCollection(ids))
      .select("content_fp").distinct().count()
    assert(nFp == ids.size, "exact duplicates survived the pipeline")
    // and no SURVIVING pair is a verified near-dup under the
    // pipeline's own df cap (the dominance rule's postcondition)
    val shi = NearDup.shingleIndex(exactUniverse, "doc_id",
      col("clean_text"))
    val (pairs, sizes, _, release) =
      NearDup.invertedPairCounts(shi, "doc_id")
    val bad = pairs
      .filter(col("a_id").isInCollection(ids) &&
        col("b_id").isInCollection(ids))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")),
        Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")),
        Seq("b_id"))
      .filter(col("n_inter") * 10000 >=
        (col("na") + col("nb") - col("n_inter")) * 5000)
      .count()
    release()
    assert(bad == 0L, s"$bad surviving near-dup pairs")

    // pack ids are exactly the per-(fold, source) prefix-sum fold
    rows.groupBy(r => (r.getString(3), r.getString(2))).foreach {
      case (_, shard) =>
        var cum = 0L
        shard.sortBy(_.getLong(0)).foreach { r =>
          cum += r.getLong(4)
          assert(r.getLong(5) == (cum - 1) / Curation.PackBudget,
            s"pack mismatch at doc ${r.getLong(0)}")
        }
    }
    out.unpersist(): Unit
  }
}
