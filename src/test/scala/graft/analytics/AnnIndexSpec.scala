package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.{ModelStore, Tables}

class AnnIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val Dir = "/root/testdata/sf0.001"

  test("persisted index search returns exactly the in-memory IVF answer") {
    // same training, assignment and probe logic over the same data —
    // the store round-trip must be invisible in the results
    val root = Files.createTempDirectory("graft-annidx").toString
    val store = new ModelStore(root)
    val emb = Tables.load(spark, Dir, "embeddings")
    AnnIndex.build(store, "e", emb)
    val got = AnnIndex.search(spark, store, "e",
      emb.filter(col("vec_id") < VectorOps.NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding")))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getInt(3)))
    val mem = VectorOps.qAnnIvf.build(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getInt(3)))
    assert(got.nonEmpty && got.toSeq == mem.toSeq)
  }

  test("append assigns against STORED centroids; a planted duplicate " +
      "becomes its query's top hit; only touched cells rewrite") {
    val root = Files.createTempDirectory("graft-annidx2").toString
    val store = new ModelStore(root)
    val emb = Tables.load(spark, Dir, "embeddings")
    AnnIndex.build(store, "e", emb)
    val before = store.read(spark, AnnIndex.Layer, "e_postings").get
    val nBefore = before.count()
    // exact clone of vector 0 under a fresh id — its quantized form is
    // identical, so cosine to vector 0 is exactly 1.0
    val clone = emb.filter(col("vec_id") === 0L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    AnnIndex.append(spark, store, "e", clone)
    val after = store.read(spark, AnnIndex.Layer, "e_postings").get
    assert(after.count() == nBefore + 1)
    // the clone landed in exactly one cell; every other inverted list
    // is byte-identical (hard-link carry-over, not a rewrite)
    val cellsChanged = after.groupBy("c_id").count()
      .join(before.groupBy("c_id").count()
        .withColumnRenamed("count", "old"), Seq("c_id"), "outer")
      .filter(!(col("count") <=> col("old"))).count()
    assert(cellsChanged == 1L)

    // the corpus-size stamp follows the append (a stale stamp would
    // make the next staleness check retrain the just-extended index)
    assert(store.meta(spark, AnnIndex.Layer, "e_postings", "rows")
      .contains((nBefore + 1).toString))

    // re-appending a stored vector is a no-op: append anti-joins the
    // stored vec_ids (a re-inserted vector would corrupt top-k ranks)
    // and commits nothing when no vector is new
    val vAfter = store.currentVersion(spark, AnnIndex.Layer, "e_postings")
    AnnIndex.append(spark, store, "e", clone)
    assert(store.read(spark, AnnIndex.Layer, "e_postings").get
      .count() == nBefore + 1)
    assert(store.currentVersion(spark, AnnIndex.Layer,
      "e_postings") == vAfter)

    val hits = AnnIndex.search(spark, store, "e",
      emb.filter(col("vec_id") === 0L)
        .select(col("vec_id").as("q_id"), col("embedding")))
      .filter(col("rnk") === 1).collect()
    assert(hits.length == 1)
    assert(hits.head.getLong(1) == 900000L,
      s"top hit should be the planted clone, got ${hits.head}")
    // identical vectors: dot == n2 exactly, but the denominator is
    // fl(sqrt(n2))^2 which need not round-trip to n2 — tolerance, not
    // exact equality (cos_sim presents as the fixed 4-decimal string)
    assert(hits.head.getString(2).toDouble >= 1.0 - 1e-4)
  }

  test("persisted IVF-PQ search (q113) returns exactly the in-memory " +
      "ADC answer (q112), and its codes scan is partition-pruned") {
    val d = "/root/testdata/sf0.001"
    val mem = Pq.qPqAnn.build(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    val stored = AnnIndex.qPqIndex.build(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    assert(mem.nonEmpty && stored == mem)

    // one query probes NumProbes cells — the CODES scan (the only
    // per-candidate data ADC touches) must read at most that many
    // partition directories
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(d).getCanonicalPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val store = new ModelStore(s"/tmp/graft-annindex/$key")
    val one = Tables.load(spark, d, "embeddings")
      .filter(col("vec_id") === 1L)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val df = AnnIndex.searchAdc(spark, store, "emb", one)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.partitionSchema.nonEmpty => s
    }
    assert(scans.nonEmpty)
    val partsRead = scans.map(_.selectedPartitions.partitionCount).max
    assert(partsRead <= VectorOps.NumProbes,
      s"codes scan read $partsRead partitions")
  }

  test("coarse artifact REBUILDS on corpus change instead of serving " +
      "the stale index") {
    // same store key (same dir), new embeddings content -> the
    // staleness fingerprint must force a retrain+reassign; an
    // unchanged corpus must be a pure read (no version churn)
    val dir = Files.createTempDirectory("graft-annstale").toString
    val emb = Tables.load(spark, Dir, "embeddings")
    emb.write.parquet(s"$dir/embeddings.parquet")
    val (_, a1) = AnnIndex.tierArtifacts(spark, dir, AnnIndex.pinned)
    val n1 = a1.count()
    assert(n1 == emb.count())
    // shrink the corpus in place (drop half the vectors). A LIVE
    // session's Tables.load plan cache documents immutable source
    // dirs (an in-place rewrite under it fails LOUDLY with
    // FILE_NOT_EXIST — never silently serves old rows), so model what
    // production actually does: the next RUN arrives as a new session
    // over the rewritten snapshot, announced via refreshByPath.
    val half = emb.filter(col("vec_id") % 2 === 0).persist()
    val nHalf = half.count()
    half.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    spark.catalog.refreshByPath(s"$dir/embeddings.parquet")
    val s2 = spark.newSession()
    val (_, a2) = AnnIndex.tierArtifacts(s2, dir, AnnIndex.pinned)
    assert(a2.count() == nHalf,
      "stale postings served for changed corpus")
    // unchanged corpus: pure read — no version churn
    val store = new ModelStore(
      s"/tmp/graft-annindex/" + java.security.MessageDigest
        .getInstance("MD5")
        .digest(new java.io.File(dir).getCanonicalPath
          .getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val v = store.currentVersion(s2, AnnIndex.Layer, "emb_postings")
    assert(v >= 2, s"rebuild must commit a new version, got $v")
    AnnIndex.tierArtifacts(s2, dir, AnnIndex.pinned)._2.count()
    assert(store.currentVersion(s2, AnnIndex.Layer,
      "emb_postings") == v)
    half.unpersist(): Unit
  }

  test("persisted PQ at the production geometry (16x4-dim, 256 " +
      "codes): the artifact is self-describing and serving equals " +
      "the in-memory chain") {
    // the 100 TB claim runs 256-code codebooks through the SAME
    // persisted plan as the oracle-tractable 16-code default; the
    // geometry rides in the artifact's commit meta, so the serving
    // path shapes its distance table correctly with no caller input
    val d = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("ann-pq-prod").toString
    val store = new ModelStore(tmp)
    val emb = Tables.load(spark, d, "embeddings")
    AnnIndex.build(store, "e", emb)
    AnnIndex.buildPq(spark, store, "e",
      numSub = 16, subDim = 4, numCodes = 256, iters = 2)
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val got = AnnIndex.searchAdc(spark, store, "e", q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet

    val base = VectorOps.withQuant(emb).persist()
    val cents = VectorOps.kmeansCentroids(base).persist()
    val assigned = VectorOps.ivfAssign(base, cents).persist()
    val subs = Pq.subspaces(Pq.residuals(assigned, cents), 16, 4)
      .persist()
    val cb = Pq.trainCodebooks(subs, 256, 2)
    val mem = Pq.adcSearch(assigned, cents, cb,
        Pq.assignCodes(subs, cb), 4, VectorOps.TopK, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(got.nonEmpty && got == mem)

    // the two-stage serving path runs at the same geometry
    val rr = AnnIndex.searchAdcRerank(spark, store, "e", q).collect()
    assert(rr.nonEmpty && rr.forall(_.getInt(3) <= VectorOps.TopK))
    base.unpersist(); cents.unpersist(); assigned.unpersist()
    subs.unpersist()
    graft.Harness.deleteRecursively(new java.io.File(tmp))
  }

  test("pqSig derives from coarseSig: a coarse-constants bump " +
      "invalidates the PQ tier too") {
    // PQ codebooks/codes are trained on residuals against the coarse
    // centroids and partitioned by their cell ids — a coarse rebuild
    // with stale PQ codes would score wrong ADC distances. Deriving
    // pqSig FROM coarseSig makes that staleness structural: any
    // change that moves the coarse signature moves the PQ one.
    val fp = "1234:567890"
    assert(AnnIndex.pqSig(fp).startsWith(AnnIndex.coarseSig(fp)),
      s"pqSig '${AnnIndex.pqSig(fp)}' must embed coarseSig " +
        s"'${AnnIndex.coarseSig(fp)}'")
    // and it still distinguishes PQ-geometry changes on its own
    assert(AnnIndex.pqSig(fp) != AnnIndex.coarseSig(fp))
  }

  test("append keeps the PQ artifact coherent: appended vectors are " +
      "ADC-visible") {
    val tmp = java.nio.file.Files.createTempDirectory("ann-pq-append")
    val store = new ModelStore(tmp.toString)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    AnnIndex.build(store, "e", emb)
    AnnIndex.buildPq(spark, store, "e")
    // append a near-copy of vector 3 under a fresh id
    val copy = emb.filter(col("vec_id") === 3L)
      .select(lit(900000L).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x + lit(0.0005f)).as("embedding"))
    AnnIndex.append(spark, store, "e", copy)
    // querying the original must now surface the appended near-copy
    // through the CODES-ONLY ADC path
    val got = AnnIndex.searchAdc(spark, store, "e",
      emb.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("q_id"), col("embedding")))
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.nonEmpty)
    val hit = got.find(_._1 == 900000L)
    assert(hit.isDefined, s"appended vector missing from ADC results $got")
    assert(hit.get._2 == 1, s"near-copy should rank first: $got")
    graft.Harness.deleteRecursively(tmp.toFile)
  }

  test("append at the PRODUCTION PQ geometry (16x4, 256 codes) keeps " +
      "the pq_geom stamp and stays ADC-correct") {
    // the default-geometry append test can't catch a dropped geometry
    // stamp (the fallback EQUALS the default); at 16x4/256 a lost
    // stamp would shape the distance table as 8x8 and silently return
    // wrong ANN results on every post-append search
    val tmp = java.nio.file.Files.createTempDirectory("ann-pq-appgeom")
    val store = new ModelStore(tmp.toString)
    val emb = Tables.load(spark, Dir, "embeddings")
    AnnIndex.build(store, "e", emb)
    AnnIndex.buildPq(spark, store, "e",
      numSub = 16, subDim = 4, numCodes = 256, iters = 2)
    val copy = emb.filter(col("vec_id") === 3L)
      .select(lit(900000L).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x + lit(0.0005f)).as("embedding"))
    AnnIndex.append(spark, store, "e", copy)
    // the codes table the append rewrote must still be self-describing
    assert(store.meta(spark, AnnIndex.Layer, "e_pq_codes", "pq_geom")
      .contains("16:4:256:2"),
      "append must preserve the pq_geom stamp on the codes table")
    // and a second append must keep encoding against the 16x4 slicing
    AnnIndex.append(spark, store, "e",
      emb.filter(col("vec_id") === 5L)
        .select(lit(900001L).as("vec_id"), col("embedding")))
    val got = AnnIndex.searchAdc(spark, store, "e",
      emb.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("q_id"), col("embedding")))
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    val hit = got.find(_._1 == 900000L)
    assert(hit.isDefined && hit.get._2 == 1,
      s"appended near-copy must rank first at the production geometry: " +
        got.sortBy(_._2).take(5).mkString(", "))
    graft.Harness.deleteRecursively(tmp.toFile)
  }

  test("search scan is partition-pruned to the probed cells") {
    val root = Files.createTempDirectory("graft-annidx3").toString
    val store = new ModelStore(root)
    val emb = Tables.load(spark, Dir, "embeddings")
    AnnIndex.build(store, "e", emb)
    val one = emb.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val df = AnnIndex.search(spark, store, "e", one)
    // one query probes NumProbes cells — the postings scan must read
    // at most that many partition directories, not the whole index
    // sparkPlan, not executedPlan: AQE wraps the tree and hides the
    // scans from a plain collect
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.partitionSchema.nonEmpty => s
    }
    assert(scans.nonEmpty)
    val partsRead = scans.map(_.selectedPartitions.partitionCount).max
    assert(partsRead <= VectorOps.NumProbes,
      s"postings scan read $partsRead partitions")
    assert(df.count() > 0)
  }

  test("q115 recall report: one row per (method, query), k_returned " +
      "full, and ivf hits equal an independent intersection count") {
    val rows = AnnIndex.qAnnRecall.build(spark, Dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(rows.length == 2 * VectorOps.NumQueries)
    assert(rows.map(_._1).distinct.sorted.toSeq ==
      Seq("ivf", "pq_rerank"))
    rows.foreach { case (m, q, k, hits, recall) =>
      assert(k == VectorOps.TopK, s"$m/$q returned $k")
      assert(hits >= 0 && hits <= k)
      // the recall string is exactly dbl4(hits / k) — no float drift
      assert(recall ==
        f"${hits.toDouble / VectorOps.TopK}%.4f", s"$m/$q")
    }
    // independent ground truth for the ivf rows: intersect the
    // in-memory q32 answer (≡ the persisted q91 serving, pinned by the
    // first test) with the brute-force q27 answer per query
    val ivf = VectorOps.qAnnIvf.build(spark, Dir)
      .select("q_id", "vec_id")
    val brute = VectorOps.qAnnTopK.build(spark, Dir)
      .select("q_id", "vec_id")
    val expected = ivf.join(brute, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_._1 == "ivf").foreach { case (_, q, _, hits, _) =>
      assert(hits == expected.getOrElse(q, 0L), s"query $q")
    }
    // the report is only meaningful if the index is actually good on
    // the fixture — a recall collapse here means a broken serving path
    val meanIvf = rows.filter(_._1 == "ivf").map(_._4).sum.toDouble /
      (VectorOps.NumQueries * VectorOps.TopK)
    assert(meanIvf >= 0.5, f"ivf mean recall $meanIvf%.2f")
  }

  test("q116 KNN graph: every vector ranked, cell-local neighbors, " +
      "and the TopKAgg path equals the window-sort form") {
    val got = AnnIndex.qKnnGraph.build(spark, Dir)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
    assert(rows.nonEmpty)
    // rank runs 1..min(k, |cell|-1) per vector, no gaps, no self-edges
    rows.groupBy(_._1).foreach { case (v, nbrs) =>
      assert(nbrs.map(_._4).sorted.toSeq == (1 to nbrs.length).toSeq, v)
      assert(nbrs.length <= AnnIndex.KnnK, v)
      assert(!nbrs.exists(_._2 == v), s"self-edge at $v")
    }
    // independent form: same cell-local candidates ranked by a window
    // row_number instead of the bounded TopKAgg — results must agree
    // exactly (ties: cos desc, then smaller neighbor id)
    val (_, postings) = AnnIndex.tierArtifacts(spark, Dir, AnnIndex.pinned)
    val probe = postings.select(col("c_id"), col("vec_id").as("q_id"),
      col("qv").as("q_qv"), col("n2").as("q_n2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    val windowed = postings.join(probe, Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosineQ(col("q_qv"), col("qv"), col("q_n2"),
          col("n2")).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= AnnIndex.KnnK)
      .select(col("q_id").as("vec_id"), col("vec_id").as("nbr_id"),
        graft.ops.Exact.dbl4(col("cos_sim")).as("cos_sim"),
        col("rnk"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
    assert(rows.sorted.toSeq == windowed.sorted.toSeq)
  }

  test("stored KNN graph serves exactly the in-memory relation, and " +
      "a second read is a pure serve (no rebuild)") {
    val mem = AnnIndex.graphFromPostings(
        AnnIndex.tierArtifacts(spark, Dir, AnnIndex.pinned)._2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val stored = AnnIndex.knnGraphStored(spark, Dir, AnnIndex.pinned).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(stored.sorted.toSeq == mem.sorted.toSeq)
    graft.io.ArtifactStore.drainBuilds()
    AnnIndex.knnGraphStored(spark, Dir, AnnIndex.pinned).count()
    assert(!graft.io.ArtifactStore.drainBuilds()
      .exists(_.endsWith("emb_knn")), "second read rebuilt the graph")
  }

  test("q118 RRF fusion equals a driver-side recomputation from the " +
      "two shortlists (membership, scores, and tie order)") {
    val rows = AnnIndex.qRrfFusion.build(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getInt(3)))
    assert(rows.length == VectorOps.NumQueries * VectorOps.TopK)
    // recompute RRF in plain Scala from the two certified serving
    // queries' own outputs
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val ivf = ranks(AnnIndex.qAnnIndex.build(spark, Dir))
    val pq = ranks(AnnIndex.qPqRerank.build(spark, Dir))
    val expected = (ivf.keySet ++ pq.keySet).toSeq
      .map { case k @ (q, v) =>
        val s = ivf.get(k).map(r => 1.0 / (AnnIndex.RrfK + r))
          .getOrElse(0.0) +
          pq.get(k).map(r => 1.0 / (AnnIndex.RrfK + r)).getOrElse(0.0)
        (q, v, s)
      }
      .groupBy(_._1).toSeq.flatMap { case (q, cands) =>
        cands.sortBy(c => (-c._3, c._2)).take(VectorOps.TopK)
          .zipWithIndex.map { case ((_, v, s), i) =>
            (q, v, f"$s%.4f", i + 1) }
      }
    assert(rows.sorted.toSeq == expected.sorted)
  }

  test("q117 NN-descent round: neighborhoods only improve (candidate " +
      "set contains every current edge), ranks stay contiguous") {
    def nbrSums(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2).toDouble, r.getInt(3)))
        .groupBy(_._1)
        .map { case (v, ns) => v -> (ns.map(_._3).sum, ns.length) }
    val base = nbrSums(AnnIndex.qKnnGraph.build(spark, Dir))
    val refined = AnnIndex.qKnnRefine.build(spark, Dir)
    val refRows = refined.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2).toDouble, r.getInt(3)))
    refRows.groupBy(_._1).foreach { case (v, ns) =>
      assert(ns.map(_._4).sorted.toSeq == (1 to ns.length).toSeq, v)
      assert(!ns.exists(_._2 == v), s"self-edge at $v")
    }
    val ref = nbrSums(refined)
    // monotone: the refined candidate set ⊇ current edges, so the
    // summed neighbor similarity per vector can only rise (up to the
    // 4-decimal presentation grid) and no vector loses neighbors
    base.foreach { case (v, (sum0, n0)) =>
      val (sum1, n1) = ref(v)
      assert(n1 >= n0, s"vector $v lost neighbors: $n0 -> $n1")
      assert(sum1 >= sum0 - 1e-9,
        f"vector $v got worse: $sum0%.4f -> $sum1%.4f")
    }
    // and the refinement is not a no-op on the fixture: at least one
    // vector found a strictly better neighborhood across cells
    assert(base.exists { case (v, (sum0, n0)) =>
      val (sum1, n1) = ref(v); n1 > n0 || sum1 > sum0 + 1e-9 })
  }

  test("serving shortlist artifacts ≡ the live search / two-stage " +
      "re-rank output on the standard panel") {
    // the stored shortlists are deterministic functions of the same
    // persisted index q91/q114 serve from, so the artifact must be
    // indistinguishable from the live ranking — the contract that
    // lets q115/q118/q121 read them instead of re-running serving
    val (ivfList, pqList) = AnnIndex.servedShortlists(spark, Dir)
    val gotIvf = ivfList.collect().map(r => (r.getLong(0),
      r.getLong(1), r.getString(2), r.getInt(3))).toSet
    val liveIvf = AnnIndex.qAnnIndex.build(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getInt(3))).toSet
    assert(gotIvf.nonEmpty && gotIvf == liveIvf)
    val gotPq = pqList.collect().map(r => (r.getLong(0),
      r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val livePq = AnnIndex.qPqRerank.build(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getInt(3))).toSet
    assert(gotPq.nonEmpty && gotPq == livePq)
  }

  test("q125 history fork: the staleness-keyed artifacts equal a " +
      "fresh build+buildKnn over the same slice, and the live append " +
      "mutates only the fork — never the shared snapshot store") {
    val emb = Tables.load(spark, Dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val isBatch =
      pmod(col("vec_id"), lit(AnnIndex.IncKnnMod.toLong)) === 0L
    val hist = emb.filter(!isBatch)
    val fork = AnnIndex.incKnnHistoryFork(spark, Dir, hist)
    // fresh reference build over the identical slice
    val ref = new ModelStore(
      Files.createTempDirectory("graft-incref").toString)
    AnnIndex.build(ref, "inc", hist)
    AnnIndex.buildKnn(spark, ref, "inc")
    def key(st: ModelStore, t: String) = st
      .read(spark, AnnIndex.Layer, t).get
      .select(col("vec_id"), col("nbr_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(key(fork, "inc_knn").nonEmpty &&
      key(fork, "inc_knn") == key(ref, "inc_knn"),
      "forked history graph must equal a fresh history build")
    // the append bumps the FORK's versions, not the shared store's
    val shared = graft.io.ArtifactStore.forDir("incknn", Dir)
    val vShared =
      shared.currentVersion(spark, AnnIndex.Layer, "inc_knn")
    AnnIndex.append(spark, fork, "inc", emb.filter(isBatch))
    assert(shared.currentVersion(spark, AnnIndex.Layer, "inc_knn")
      == vShared, "append leaked into the shared snapshot store")
    assert(fork.currentVersion(spark, AnnIndex.Layer, "inc_knn") == 2)
    // and the appended fork equals the q125 contract (full corpus on
    // history-trained centroids), per the decomposition argument
    val posts = fork.read(spark, AnnIndex.Layer, "inc_postings").get
      .select(col("c_id").cast("long").as("c_id"), col("vec_id"),
        col("qv"), col("n2"))
    assert(key(fork, "inc_knn") != key(ref, "inc_knn"))
    val rebuilt = AnnIndex.graphFromPostings(posts)
      .select(col("vec_id"), col("nbr_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(key(fork, "inc_knn") == rebuilt)
  }

  test("append fails fast on a knn_k stamp mismatch instead of " +
      "committing a mixed-k graph") {
    val root = Files.createTempDirectory("graft-annkmix").toString
    val store = new ModelStore(root)
    val emb = Tables.load(spark, Dir, "embeddings")
    AnnIndex.build(store, "e", emb)
    AnnIndex.buildKnn(spark, store, "e")
    // simulate a constants drift: the stored graph claims a different
    // k (raw write; drop the local-FS .crc sidecar the bypass stales)
    val v = store.currentVersion(spark, AnnIndex.Layer, "e_knn")
    val vDir = store.versionDir(AnnIndex.Layer, "e_knn", v)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(vDir, "_meta_knn_k"),
      (AnnIndex.KnnK + 1).toString.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(vDir, "._meta_knn_k.crc"))
    val clone = emb.filter(col("vec_id") === 0L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    val e = intercept[RuntimeException] {
      AnnIndex.append(spark, store, "e", clone)
    }
    assert(e.getMessage.contains("knn_k"), e.getMessage)
    graft.Harness.deleteRecursively(new java.io.File(root))
  }

  test("batch-internal duplicate vec_ids insert once: postings, " +
      "codes-free graph ranks stay duplicate-free") {
    val root = Files.createTempDirectory("graft-anndup").toString
    val store = new ModelStore(root)
    val emb = Tables.load(spark, Dir, "embeddings")
    AnnIndex.build(store, "e", emb)
    AnnIndex.buildKnn(spark, store, "e")
    val clone = emb.filter(col("vec_id") === 0L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    // the same new id delivered twice in ONE batch (a coalesced
    // replay): without the batch-internal dedup this double-inserts
    AnnIndex.append(spark, store, "e", clone.unionAll(clone))
    val posts = store.read(spark, AnnIndex.Layer, "e_postings").get
    assert(posts.filter(col("vec_id") === 900000L).count() == 1,
      "duplicate batch ids double-inserted postings")
    // graph ranks: no neighbor may occupy two ranks of one vector
    val g = store.read(spark, AnnIndex.Layer, "e_knn").get
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(g.distinct.length == g.length,
      "a neighbor occupies two ranks after a duplicate append")
    graft.Harness.deleteRecursively(new java.io.File(root))
  }

  test("KNN graph append: touched cell's subgraph recomputes over the " +
      "merged postings (incumbents included), equals a full rebuild " +
      "over the appended postings, and untouched cells hard-link") {
    val root = Files.createTempDirectory("graft-annknn").toString
    val store = new ModelStore(root)
    val emb = Tables.load(spark, Dir, "embeddings")
    AnnIndex.build(store, "e", emb)
    AnnIndex.buildKnn(spark, store, "e")
    // exact clone of vector 0 under a fresh id: its cell-mates'
    // neighborhoods must change too (the clone is a perfect neighbor)
    val clone = emb.filter(col("vec_id") === 0L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    AnnIndex.append(spark, store, "e", clone)
    val posts = store.read(spark, AnnIndex.Layer, "e_postings").get
      .select(col("c_id").cast("long").as("c_id"), col("vec_id"),
        col("qv"), col("n2"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("nbr_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val stored = store.read(spark, AnnIndex.Layer, "e_knn").get
    // append ≡ full rebuild over the appended postings: exact by
    // decomposition — cell-local candidates never cross cells
    assert(key(stored).nonEmpty &&
      key(stored) == key(AnnIndex.graphFromPostings(posts)))
    // the clone's own neighborhood exists and its top edge is the
    // original (cosine exactly 1 → rnk 1, ties to the smaller id)
    assert(key(stored).contains((900000L, 0L, 1)))
    // O(touched cells): only the clone's cell was written fresh;
    // every other cell partition carried over by HARD LINK
    val touched = posts.filter(col("vec_id") === 900000L)
      .select("c_id").head().getLong(0)
    val vCur = store.currentVersion(spark, AnnIndex.Layer, "e_knn")
    def nlinks(part: String): Seq[Int] = {
      val d = new java.io.File(
        store.versionDir(AnnIndex.Layer, "e_knn", vCur), part)
      d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => java.nio.file.Files
          .getAttribute(f.toPath, "unix:nlink")
          .asInstanceOf[Number].intValue)
    }
    val cells = posts.select("c_id").distinct().collect()
      .map(_.getLong(0))
    assert(cells.length > 1, "fixture must span multiple cells")
    cells.foreach { c =>
      val links = nlinks(s"c_id=$c")
      if (c == touched)
        assert(links.nonEmpty && links.forall(_ == 1),
          s"touched cell $c must be written fresh")
      else
        assert(links.nonEmpty && links.forall(_ >= 2),
          s"untouched cell $c must carry over by hard link")
    }
  }

  test("streaming KNN-graph maintenance: micro-batches through the " +
      "sink leave the SAME stored graph as the one-shot batch append " +
      "(q125's shape) — the graph artifact joins postings and codes " +
      "in the streaming lifecycle") {
    val emb = Tables.load(spark, Dir, "embeddings")
    val isBatch =
      pmod(col("vec_id"), lit(AnnIndex.IncKnnMod.toLong)) === 0L
    val hist = emb.filter(!isBatch)
      .select(col("vec_id"), col("embedding"))
    val late = emb.filter(isBatch)
      .select(col("vec_id"), col("embedding"))
    def freshStore(tag: String): ModelStore = {
      val s = new ModelStore(
        Files.createTempDirectory(s"graft-knnappend-$tag").toString)
      AnnIndex.build(s, "g", hist)
      AnnIndex.buildKnn(spark, s, "g")
      s
    }
    // reference arm: everything in ONE batch append
    val batchStore = freshStore("batch")
    AnnIndex.append(spark, batchStore, "g", late)
    // split arm: the same rows split across two appends
    val splitStore = freshStore("split")
    val rows = late.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty,
      "fixture must feed two non-trivial appends")
    Seq(b1, b2).foreach(b => AnnIndex.append(spark, splitStore, "g",
      b.toSeq.toDF("vec_id", "embedding")))
    def graph(s: ModelStore) =
      s.read(spark, AnnIndex.Layer, "g_knn").get
        .select(col("vec_id"), col("nbr_id"), col("cos_sim"),
          col("rnk"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val split = graph(splitStore)
    assert(split.nonEmpty && split == graph(batchStore),
      "two-append graph diverged from the one-shot append")
    // and both equal a from-scratch rebuild over the final postings
    // (the cell-local decomposition, across the append split)
    val posts = splitStore
      .read(spark, AnnIndex.Layer, "g_postings").get
      .select(col("c_id").cast("long").as("c_id"), col("vec_id"),
        col("qv"), col("n2"))
    val rebuilt = AnnIndex.graphFromPostings(posts)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(split == rebuilt)
    // every appended vector is graph-visible (no silently skipped
    // append)
    val ids = split.map(_._1)
    assert(rows.forall(r => ids.contains(r._1)))
  }
}
