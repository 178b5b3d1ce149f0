package graft.io

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The artifact-store lifecycle contract (keyed /tmp stores for ANN
  * indexes and cluster decisions): rebuild-then-vacuum must not pull
  * files out from under a concurrent reader that resolved the
  * previous version just before the rebuild committed. keepLast=2 —
  * the policy every ensureArtifacts/canonicalRepsStored vacuum now
  * uses — is the one-generation read-pin that makes that safe; this
  * spec proves the pin and its boundary (two rebuilds later the old
  * files ARE gone). */
class ArtifactStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("forDir keys by full canonical path: same basename, different " +
      "parents -> different stores") {
    val a = Files.createTempDirectory("graft-artA")
    val b = Files.createTempDirectory("graft-artB")
    Files.createDirectory(a.resolve("corpus"))
    Files.createDirectory(b.resolve("corpus"))
    val sa = ArtifactStore.forDir("spec", a.resolve("corpus").toString)
    val sb = ArtifactStore.forDir("spec", b.resolve("corpus").toString)
    sa.write(Seq((1L, "a")).toDF("k", "v"), "l", "t")
    assert(sb.read(spark, "l", "t").isEmpty,
      "a sibling corpus with the same basename must see its OWN store")
    assert(ArtifactStore.forDir("spec", a.resolve("corpus").toString)
      .read(spark, "l", "t").nonEmpty)
  }

  test("ensure: conflict-loser serves the winner's matching artifact; " +
      "a different-sig winner and non-conflict failures PROPAGATE") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-artens").toString)
    def stamp(sig: String): Unit =
      store.write(Seq((1L, "x")).toDF("k", "v"), "l", "t",
        meta = Map("corpus_fp" -> sig))
    // 1. loser path: the winner committed OUR sig before our commit
    //    conflicted -> ensure serves it instead of failing the query
    ArtifactStore.ensure(spark, store, "l", "t", "sigA") {
      stamp("sigA")   // simulate the winner's committed generation
      throw new ModelStore.ConcurrentWriteException("simulated race")
    }
    assert(store.meta(spark, "l", "t", "corpus_fp").contains("sigA"))
    // 2. conflict but the winner carries a DIFFERENT signature ->
    //    serving it would be wrong; the conflict must propagate
    intercept[ModelStore.ConcurrentWriteException] {
      ArtifactStore.ensure(spark, store, "l", "t", "sigB") {
        stamp("sigC")
        throw new ModelStore.ConcurrentWriteException("simulated race")
      }
    }
    // 3. a NON-conflict failure propagates even when the meta happens
    //    to match the target sig — the old catch-all converted OOM /
    //    broken builds into silent success here
    intercept[RuntimeException] {
      ArtifactStore.ensure(spark, store, "l", "t", "sigD") {
        stamp("sigD")
        throw new RuntimeException("broken build")
      }
    }
  }

  test("ensure records cold builds in the drainable ledger; a " +
      "staleness HIT records nothing") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-artcold").toString)
    ArtifactStore.drainBuilds()   // isolate from other suites
    ArtifactStore.ensure(spark, store, "l", "cold", "s1") {
      store.write(Seq((1L, "x")).toDF("k", "v"), "l", "cold",
        meta = Map("corpus_fp" -> "s1"))
    }
    assert(ArtifactStore.drainBuilds() == Seq("l.cold"),
      "a staleness miss must land in the ledger")
    ArtifactStore.ensure(spark, store, "l", "cold", "s1") {
      fail("fresh artifact must not rebuild")
    }
    assert(ArtifactStore.drainBuilds().isEmpty,
      "a staleness hit must record nothing")
  }

  test("stored: a miss builds and stamps, a hit never evaluates the " +
      "frame, a new signature rebuilds and keeps the old version") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-artstored").toString)
    var evals = 0
    def art(sig: String, v: String): Seq[String] =
      ArtifactStore.stored(spark, store, "l", "t", sig, "spec artifact") {
        evals += 1
        Seq((1L, v)).toDF("k", "v")
      }.collect().map(_.getString(1)).toSeq
    def stamped(sig: String): Boolean =
      ArtifactStore.stamp(sig).forall { case (k, v) =>
        store.meta(spark, "l", "t", k).contains(v) }
    assert(art("s1", "a") == Seq("a") && evals == 1 && stamped("s1"))
    // same signature: served from the store, the frame never built
    assert(art("s1", "b") == Seq("a") && evals == 1)
    assert(store.currentVersion(spark, "l", "t") == 1)
    // changed signature: rebuilt, stamped, previous version kept
    assert(art("s2", "c") == Seq("c") && evals == 2 && stamped("s2"))
    assert(store.currentVersion(spark, "l", "t") == 2)
    assert(store.readVersion(spark, "l", "t", 1)
      .collect().map(_.getString(1)).toSeq == Seq("a"))
    // keepLast=2: one more rebuild ages v1 out
    assert(art("s3", "d") == Seq("d") && evals == 3)
    val fs = new org.apache.hadoop.fs.Path(store.versionDir("l", "t", 1))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      store.versionDir("l", "t", 1))))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      store.versionDir("l", "t", 2))))
  }

  test("forDir roots on GRAFT_ARTIFACT_ROOT / graft.artifact.root " +
      "when set (the durable-storage production story)") {
    val durable = Files.createTempDirectory("graft-durable").toString
    val corpus = Files.createTempDirectory("graft-corp").toString
    sys.props("graft.artifact.root") = durable
    try {
      val store = ArtifactStore.forDir("specroot", corpus)
      store.write(Seq((1L, "a")).toDF("k", "v"), "l", "t")
      assert(store.versionDir("l", "t", 1).startsWith(durable),
        "the store must live under the configured root, not /tmp")
      assert(store.read(spark, "l", "t").get.count() == 1)
    } finally sys.props -= "graft.artifact.root"
    // …and with the override cleared, the same corpus keys back to
    // the default scratch root
    assert(ArtifactStore.forDir("specroot", corpus)
      .versionDir("l", "t", 1).startsWith("/tmp/"))
  }

  test("vacuum(keepLast=2) is a one-generation read-pin for a " +
      "concurrent reader of the previous version") {
    val store = new ModelStore(
      Files.createTempDirectory("graft-artpin").toString)
    store.write(Seq((1L, "v1")).toDF("k", "v"), "l", "t")
    // a concurrent session resolves the CURRENT pointer (v1) and holds
    // the DataFrame unmaterialized — the race window the keepLast=1
    // policy lost: its files could be vacuumed before the collect
    val pinned = store.readVersion(spark, "l", "t", 1)
    // this session rebuilds (v2) and vacuums with the read-pin policy
    store.write(Seq((2L, "v2")).toDF("k", "v"), "l", "t")
    store.vacuum(spark, "l", "t", keepLast = 2)
    // the reader's resolved version must still be fully readable...
    assert(pinned.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set((1L, "v1")))
    // ...while the pointer serves the rebuild
    assert(store.read(spark, "l", "t").get
      .collect().map(_.getString(1)).toSet == Set("v2"))
    // boundary: one MORE rebuild+vacuum ages v1 out — the pin is one
    // generation deep by design, not an unbounded version leak
    store.write(Seq((3L, "v3")).toDF("k", "v"), "l", "t")
    store.vacuum(spark, "l", "t", keepLast = 2)
    val v1dir = new org.apache.hadoop.fs.Path(
      store.versionDir("l", "t", 1))
    val fs = v1dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(v1dir), "v1 must age out after two rebuilds")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      store.versionDir("l", "t", 2))))
  }

  test("bySource memoizes per (source listing, tag) and re-computes " +
      "when the source's files change — the fingerprint staleness " +
      "check stays real, it just verifies via file metadata") {
    val dir = Files.createTempDirectory("graft-bysource")
    val tbl = dir.resolve("docs.parquet")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(tbl.toString)
    var computes = 0
    def fp(): String = ArtifactStore.bySource(
      dir.toString, "docs", "spec-fp") { computes += 1; s"v$computes" }
    assert(fp() == "v1" && fp() == "v1",
      "unchanged source: second call must serve the memo")
    assert(computes == 1)
    // distinct tag = distinct entry (a filtered-variant key must never
    // collide with the full-table key)
    var computes2 = 0
    val other = ArtifactStore.bySource(
      dir.toString, "docs", "spec-other") { computes2 += 1; "w" }
    assert(other == "w" && computes2 == 1 && computes == 1)
    // rewriting the source (new files) invalidates BOTH tags' entries
    Seq((3L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(tbl.toString)
    assert(fp() == "v2", "a changed listing must force a recompute")
    assert(computes == 2)
  }
}
