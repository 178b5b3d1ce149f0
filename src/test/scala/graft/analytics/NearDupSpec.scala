package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark

/** Near-dup operator semantics on crafted corpora: shingling, exact
  * Jaccard, MinHash estimate quality, SimHash locality. */
class NearDupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("shingles3: 3-gram construction, dedup, short-doc empty") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), NearDup.shingles3(col("text")).as("sh"))
    val byId = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(byId(1L) == Set("a b c", "b c d"))
    assert(byId(2L) == Set.empty)
    assert(byId(3L) == Set("x x x"))   // distinct
  }

  test("clusterPairs equals a union-find oracle on random graphs") {
    // property: for arbitrary edge lists, the distributed fixpoint
    // must produce exactly the connected components with min-id labels
    val gen = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val n = 30
      val edges = (1 to 25).map(_ =>
        (gen.nextInt(n).toLong, gen.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = graft.TestRefs.minLabels(touched, edges)
      val got = NearDup.clusterPairs(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("minhash estimate tracks exact jaccard for near-identical docs") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"w$i").mkString(" ") + " z1 z2"
    val unrelated = (100 to 160).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val sigs = docs
      .select(col("doc_id"), NearDup.shingles3(col("text")).as("sh"))
      .select(col("doc_id"), NearDup.minhashSignature(col("sh")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y } /
        NearDup.NumHashes.toDouble
    assert(est(1L, 2L) > 0.6)    // true jaccard = 56/60 shared 3-grams
    assert(est(1L, 3L) < 0.2)    // disjoint
  }

  test("dedupCorpus: exact + near dups collapse to the smallest id") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"w$i").mkString(" ") + " z1 z2 z3"
    val docs = Seq(
      (10L, base),
      (11L, base),            // exact dup of 10
      (12L, nearDup),         // near dup of 10 → same cluster
      (20L, (200 to 260).map(i => s"u$i").mkString(" ")),   // unique
      (21L, "tiny doc"))      // < 3 tokens: no shingles, still kept
      .toDF("doc_id", "text")
    val decisions = NearDup.dedupCorpus(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decisions == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 21L))
  }

  test("containment: an embedded sub-document is flagged directionally " +
      "where symmetric Jaccard stays silent") {
    // doc 2 = a 10-token slice of doc 1 (60 tokens): containment of 2
    // in 1 is 1.0 while Jaccard ≈ 8/58 ≈ 0.14 — below q24's 0.5 gate.
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val slice = (21 to 30).map(i => s"w$i").mkString(" ")
    val other = (200 to 230).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, big), (2L, slice), (3L, other))
      .toDF("doc_id", "text")
    // q98's path: posting lists → pair counts → directional tests
    val (pairs, sizes) = NearDup.pairCountsFromLists(NearDup.postingLists(
      NearDup.shingleIndex(docs, "doc_id", col("text")), "doc_id"), "doc_id")
    val rows = NearDup.containmentFromCounts(pairs, sizes, identity)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(rows.keySet == Set((2L, 1L)))   // one direction only
    val (nInter, nContained, c) = rows((2L, 1L))
    assert(nContained == 8L && nInter == 8L)   // 10 tokens → 8 shingles
    assert(c == "1.0000")
    // and the Jaccard pair set at the 0.5 gate really misses it
    val ns = sizes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jac = pairs.collect().map { r =>
      val (a, b, ni) = (r.getLong(0), r.getLong(1), r.getLong(2))
      ((a, b), ni.toDouble / (ns(a) + ns(b) - ni))
    }.toMap
    assert(jac((1L, 2L)) < 0.5)
  }

  test("q95 canonical selection: longest doc wins, ties to smallest id, " +
      "singletons are their own canonical") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val longer = base + " z1 z2"          // near dup of base, +2 words
    val docs = Seq(
      (10L, base),
      (11L, longer),          // longest in 10's cluster → canonical
      (12L, base),            // exact dup of 10
      (20L, (200 to 260).map(i => s"u$i").mkString(" ")),   // singleton
      (30L, "p q r s t"),
      (31L, "p q r s t"))     // exact-dup pair, equal length → tie on id
      .toDF("doc_id", "text")
    val byCluster = NearDup.canonicalSelection(
        NearDup.dedupCorpus(docs, "doc_id", col("text")), docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(byCluster(10L) == ((11L, 3L, 62L)))   // longest member wins
    assert(byCluster(20L) == ((20L, 1L, 61L)))   // singleton = self
    assert(byCluster(30L) == ((30L, 2L, 5L)))    // tie → smallest id
    assert(byCluster.keySet == Set(10L, 20L, 30L))
  }

  test("clusterPairs: chains collapse to the smallest member") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val labels = NearDup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("clusterPairs: long chains converge to a transitive fixpoint") {
    // a 9-edge path (diameter 9): the old fixed-3-round propagation
    // left distinct labels mid-chain; the fixpoint loop must collapse
    // everything to the minimum AND every keep_id must itself be kept
    // (keep_id is a fixpoint: label(keep_id) == keep_id).
    // smallGraphLimit = 0 FORCES the distributed fixpoint — without
    // it every test graph (≤60 edges) routes through the union-find
    // fast path and the production path for large corpora would ship
    // untested.
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    Seq(0, NearDup.SmallGraphEdges).foreach { limit =>
      val labels = NearDup.clusterPairs(pairs, smallGraphLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == (1L to 10L).map(_ -> 1L).toMap, s"limit=$limit")
      assert(labels.values.forall(k => labels(k) == k), s"limit=$limit")
    }
  }

  test("clusterPairs: fast path and distributed fixpoint agree on " +
      "random graphs") {
    val gen = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val edges = (1 to 40).map(_ =>
        (gen.nextInt(25).toLong, gen.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val df = edges.toDF("a_id", "b_id")
      val fast = NearDup.clusterPairs(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = NearDup.clusterPairs(df, smallGraphLimit = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == dist, s"trial $trial")
    }
  }

  test("simhash: near-identical docs land within the Hamming radius") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val oneOff = base + " extra"
    val unrelated = (200 to 280).map(i => s"u$i").mkString(" ")
    val df = Seq((1L, base), (2L, oneOff), (3L, unrelated))
      .toDF("doc_id", "text")
    val sims = NearDup.simhash(df, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(2L)) <= 6)
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) > 10)
  }

  test("prefix join is COMPLETE: equals the brute-force exact pair " +
      "set on a randomized mutation corpus") {
    // 40 base docs, each spawning 0–3 mutated copies (drop/replace a
    // few tokens) — a mix of pairs straddling the τ = 0.6 boundary
    val rnd = new scala.util.Random(7)
    val docs = (0 until 40).flatMap { b =>
      val base = Seq.tabulate(10 + rnd.nextInt(15))(i => s"t${b}_$i")
      val copies = Seq.tabulate(rnd.nextInt(4)) { c =>
        base.map(w =>
          if (rnd.nextInt(10) == 0) s"m${b}_$c" else w)
          .drop(rnd.nextInt(3))
      }
      (base +: copies)
    }.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")

    val got = NearDup.prefixSimJoin(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute force: full index self-join, no prefix, no size filter
    val sh = NearDup.shingleIndex(df, "doc_id", col("text"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i")).collect()
      .filter { r =>
        val (a, b, i) = (r.getLong(0), r.getLong(1), r.getLong(2))
        i * 5 >= (sizes(a) + sizes(b) - i) * 3
      }
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expect.nonEmpty, "corpus must contain qualifying pairs")
    assert(got == expect) // lossless: not one pair more OR less
  }

  test("canonical-first composition equals brute force on reps and " +
      "collapses dup-cluster output") {
    // three regimes: (a) the randomized mutation corpus class from the
    // q107 completeness test (high-J copies → clustered away),
    // (b) five template-sharing pairs — two docs sharing an 8-token
    // boilerplate block amid unique text, J ≈ 0.19: BELOW the 0.5
    // cluster threshold, ABOVE q109's τ = 1/20, so both survive to the
    // rep tier and must pair there, (c) a planted 12-copy exact-dup
    // cluster whose O(cluster²) pairs the canonical pre-pass must
    // collapse to zero
    val rnd = new scala.util.Random(11)
    val base = (0 until 30).flatMap { b =>
      val t = Seq.tabulate(10 + rnd.nextInt(15))(i => s"t${b}_$i")
      val copies = Seq.tabulate(rnd.nextInt(3)) { c =>
        t.map(w => if (rnd.nextInt(10) == 0) s"m${b}_$c" else w)
          .drop(rnd.nextInt(3))
      }
      (t +: copies)
    }
    val templatePairs = (0 until 5).flatMap { k =>
      val block = Seq.tabulate(8)(i => s"tmpl${k}_$i")
      Seq(block ++ Seq.tabulate(12)(i => s"ux${k}_$i"),
        block ++ Seq.tabulate(12)(i => s"uy${k}_$i"))
    }
    val dupText = Seq.tabulate(20)(i => s"dup_$i")
    val docs = (base ++ templatePairs ++ Seq.fill(12)(dupText)).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")

    // q109's composition: canonical selection (already
    // spec/oracle-certified on its own), then the inverted-index join
    // at τ = 1/20 on the representatives
    val reps = NearDup.canonicalSelection(
        NearDup.dedupCorpus(df, "doc_id", col("text")), df)
      .select(col("canonical_id").as("doc_id"))
    val rdf = df.join(reps, "doc_id")
    val got = NearDup.invertedSimJoin(rdf, 1, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute force ON THE REPRESENTATIVES: the unfiltered exact pair
    // join restricted to those docs
    val sh = NearDup.shingleIndex(rdf, "doc_id", col("text"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i")).collect()
      .filter { r =>
        val (a, b, i) = (r.getLong(0), r.getLong(1), r.getLong(2))
        i * 20 >= (sizes(a) + sizes(b) - i) * 1   // q109's τ = 1/20
      }
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect) // exact per-pair semantics on the rep tier

    // every template pair survives to the rep tier and pairs there
    val tmplIds = templatePairs.map(_.mkString(" "))
      .map(t => docs.find(_._2 == t).get._1)
    val tmplPairs = tmplIds.grouped(2)
      .map(g => (g(0) min g(1), g(0) max g(1))).toSet
    assert(tmplPairs.subsetOf(got),
      s"template pairs $tmplPairs must appear in $got")

    // the 12-copy cluster contributed 66 pairs to plain q107 but must
    // contribute ZERO here (its one rep pairs with nothing)
    val dupIds = docs.filter(_._2 == dupText.mkString(" ")).map(_._1).toSet
    val plain = NearDup.prefixSimJoin(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.count(p => dupIds(p._1) && dupIds(p._2)) == 66)
    assert(!got.exists(p => dupIds(p._1) && dupIds(p._2)))
  }

  test("persisted cluster-decision artifact equals the in-memory " +
      "canonical set (and re-reads stably)") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.load(spark, d, "documents")
    val stored = NearDup.canonicalRepsStored(spark, d, docs)
      .collect().map(_.getLong(0)).toSet
    val fresh = NearDup.canonicalSelection(
        NearDup.dedupCorpus(docs, "doc_id", col("text")), docs)
      .select("canonical_id").collect().map(_.getLong(0)).toSet
    assert(stored == fresh && stored.nonEmpty)
    // second call is a pure artifact read (fingerprint unchanged)
    val again = NearDup.canonicalRepsStored(spark, d, docs)
      .collect().map(_.getLong(0)).toSet
    assert(again == stored)
  }

  test("stored cluster decision and posting lists equal their " +
      "in-memory chains (q35/q95/q24/q98 artifact discipline)") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.io.Tables.load(spark, d, "documents")
    // full decision artifact ≡ fresh dedupCorpus
    val dec = NearDup.clusterDecisionStored(spark, d, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = NearDup.dedupCorpus(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dec == mem && dec.nonEmpty)
    // posting-lists artifact ≡ fresh bounded-set lists (multiset —
    // distinct shingles may share an identical doc array)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getSeq[Long](0).toList).toList
        .sortBy(_.mkString(","))
    val stored = norm(NearDup.postingListsStored(spark, d, docs)._1)
    val fresh = norm(NearDup.postingLists(
      NearDup.shingleIndex(docs, "doc_id", col("text")), "doc_id"))
    assert(stored == fresh && stored.nonEmpty)
    // and the pair counts drawn from the stored lists match the
    // in-memory invertedPairCounts exactly
    val (p1, s1) = NearDup.pairCountsFromLists(
      NearDup.postingListsStored(spark, d, docs)._1, "doc_id")
    val (p2, s2, _, release) = NearDup.invertedPairCounts(
      NearDup.shingleIndex(docs, "doc_id", col("text")), "doc_id")
    assert(p1.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).toSet ==
      p2.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet)
    assert(s1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      s2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    release()
  }

  test("cluster-decision artifact REBUILDS on corpus change instead " +
      "of serving the stale decision") {
    // the staleness fingerprint is the whole safety argument of the
    // once-per-snapshot discipline: same store key (same dir), new
    // content -> the stored decision must be recomputed, not served
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stale").toString
    val v1 = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    val d1 = NearDup.clusterDecisionStored(spark, dir, v1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d1 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // same doc ids, different content: now 3 duplicates 1, 2 is unique
    val v2 = Seq(
      (1L, "a b c d e f"), (2L, "p q r s t u"), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    val d2 = NearDup.clusterDecisionStored(spark, dir, v2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L),
      s"stale decision served for changed corpus: $d2")
    // and an UNCHANGED corpus is a pure read — no version churn
    val store = graft.io.ArtifactStore.forDir("cluster", dir)
    val v = store.currentVersion(spark, "cluster", "decision")
    NearDup.clusterDecisionStored(spark, dir, v2).count()
    assert(store.currentVersion(spark, "cluster", "decision") == v)
  }

  test("per-doc sizes broadcast gate forced both ways across the " +
      "counts consumers (q24 jaccard / q98 containment / dedupCorpus): " +
      "identical results") {
    // every sizes lookup join is volume-gated now (the
    // invertedSimJoin discipline): below the cap it broadcasts,
    // past it it shuffles — a forced broadcast of a per-corpus-doc
    // table would abort the job at ~10⁹ docs. Both plans must emit
    // byte-identical results.
    val rnd = new scala.util.Random(11)
    val docs = (0 until 20).flatMap { b =>
      val t = Seq.tabulate(8 + rnd.nextInt(6))(i => s"w${b}_$i")
      Seq(t, t.updated(0, s"m$b"))   // near-copy: one word differs
    }.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val lists = NearDup.postingLists(
      NearDup.shingleIndex(docs, "doc_id", col("text")), "doc_id")
      .persist()
    val (pairs, sizes) = NearDup.pairCountsFromLists(lists, "doc_id")
    val open: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame = p => broadcast(p)
    val shut: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame = identity
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val jOpen = rows(NearDup.jaccardFromCounts(pairs, sizes, open))
    assert(jOpen.nonEmpty &&
      jOpen == rows(NearDup.jaccardFromCounts(pairs, sizes, shut)))
    val cOpen = rows(NearDup.containmentFromCounts(pairs, sizes, open))
    assert(cOpen.nonEmpty &&
      cOpen == rows(NearDup.containmentFromCounts(pairs, sizes, shut)))
    lists.unpersist()
    // ...and dedupCorpus (the decision-artifact build) threads its
    // broadcastCap through invertedPairCounts to the same gate
    val dOpen = NearDup.dedupCorpus(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dShut = NearDup.dedupCorpus(docs, "doc_id", col("text"),
        broadcastCap = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dOpen == dShut && dOpen.exists { case (d, k) => d != k })
  }

  test("invertedSimJoin broadcast gate forced both ways: identical " +
      "pair set; release hook frees the shingle cache") {
    // the low-τ plan's per-doc sizes broadcast is volume-gated (the
    // q107 discipline): below the cap the two sizes joins broadcast,
    // above it they shuffle — both plans must emit the SAME pairs
    val rnd = new scala.util.Random(7)
    val docs = (0 until 25).flatMap { b =>
      val t = Seq.tabulate(8 + rnd.nextInt(10))(i => s"v${b}_$i")
      val near = t.map(w => if (rnd.nextInt(6) == 0) s"n$b" else w)
      Seq(t, near)
    }.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    def pairs(cap: Long) =
      NearDup.invertedSimJoin(docs, 1, 20, cap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSet
    val broadcastPlan = pairs(Long.MaxValue) // gate open: broadcast
    val shufflePlan = pairs(0L)              // gate shut: shuffle joins
    assert(broadcastPlan.nonEmpty)
    assert(broadcastPlan == shufflePlan)

    // release hook (the invertedPairCounts contract): after the hook
    // runs, the internal shingle cache must be gone
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val (out, release) = NearDup.invertedSimJoinReleasable(docs, 1, 20)
    assert(out.count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "the shingle index must be cached while the join is live")
    release()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "release() must unpersist the shingle cache")
  }

  test("prefixSimJoin verify-array gate forced both ways: identical " +
      "pair set, and the shut gate broadcasts no array lookup") {
    // the q107 shuffle arm: past the cap the two `arr` lookups must run
    // as shuffle joins and still emit the broadcast arm's pairs
    val rnd = new scala.util.Random(5)
    val docs = (0 until 25).flatMap { b =>
      val t = Seq.tabulate(10 + rnd.nextInt(10))(i => s"p${b}_$i")
      Seq(t, t.updated(rnd.nextInt(t.size), s"x$b"))
    }.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.ArrayType
    // only the gate's hint may broadcast here: Spark's own size-based
    // choice would broadcast these tiny sides on either arm
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    def run(cap: Long): (Set[(Long, Long, Long, Long)], Int) = {
      val (out, release) = NearDup.prefixSimJoinReleasable(docs, 3, 5,
        broadcastCap = cap)
      val arrBroadcasts = out.queryExecution.sparkPlan.collect {
        case j: BroadcastHashJoinExec
            if (if (j.buildSide == BuildLeft) j.left else j.right)
              .output.exists(_.dataType.isInstanceOf[ArrayType]) => j
      }.size
      val rows = out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      release()
      (rows, arrBroadcasts)
    }
    try {
      val (open, openArr) = run(Long.MaxValue)
      val (shut, shutArr) = run(0L)
      assert(open.nonEmpty && open == shut)
      assert(openArr >= 2, "the open gate should broadcast both lookups")
      assert(shutArr == 0, "the shut gate must not broadcast an arr side")
    } finally spark.conf.set(key, prior)
  }

  test("prefix index is a strict subset ordered rarity-first") {
    val df = Seq(
      (1L, (1 to 20).map(i => s"c$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"c$i").mkString(" ") + " tail x y"))
      .toDF("doc_id", "text")
    val sh = NearDup.shingleIndex(df, "doc_id", col("text"))
    val full = sh.count()
    // τ = 3/5 → prefix keeps n − ⌈3n/5⌉ + 1 per doc
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prefTotal = perDoc.values.map(n => n - ((n * 3 + 4) / 5) + 1).sum
    assert(prefTotal < full, "prefix must prune the candidate index")
  }

  test("scan-local simhashExpr equals the aggregate batch simhash") {
    val docs = graft.io.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val local = docs
      .withColumn("__ths",
        transform(array_distinct(TextOps.tokens(col("text"))),
          x => xxhash64(x)))
      .select(col("doc_id"),
        NearDup.simhashExpr(col("__ths"), size(col("__ths")))
          .as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = NearDup.simhashAgg(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == agg)
    // and the production scan-local form is the same computation
    val prod = NearDup.simhash(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prod == agg)
  }
}
