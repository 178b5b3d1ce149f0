package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch [[ModelStore]] roots for corpus-keyed derived artifacts
  * (ANN indexes, cluster decisions): one store per (artifact family,
  * canonical corpus dir), keyed by the FULL canonical path's MD5 so
  * two corpora sharing a basename can never serve each other's
  * artifacts. Staleness is the CALLER's contract: stamp commits with
  * a content fingerprint + hyperparameter signature and rebuild on
  * mismatch (the AnnIndex/NearDup pattern — [[contentFp]] +
  * [[ensure]] / [[stored]] are that pattern's shared implementation,
  * and only [[stamp]] knows the meta key). The default
  * root is /tmp — self-contained demo/benchmark queries; a real
  * deployment roots its artifact stores on durable storage via
  * `GRAFT_ARTIFACT_ROOT` (env) or `-Dgraft.artifact.root`
  * (ArtifactStoreSpec exercises the override). */
object ArtifactStore {

  /** Resolved per call, not cached: the spec sets the system property
    * mid-JVM, and a production job may point different stages at
    * different durable roots. */
  private def root: String =
    sys.env.get("GRAFT_ARTIFACT_ROOT")
      .orElse(sys.props.get("graft.artifact.root"))
      .getOrElse("/tmp")

  def forDir(family: String, dir: String): ModelStore = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getCanonicalPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    new ModelStore(s"$root/graft-$family/$key")
  }

  /** The ONE corpus content fingerprint every artifact family keys
    * staleness on: row count + XOR of per-row hashes —
    * order-insensitive, overflow-free under ANSI. Centralized because
    * the formula is staleness-critical: two families disagreeing on
    * what "same corpus" means would rebuild/serve inconsistently for
    * the identical change. */
  def contentFp(df: DataFrame, id: Column, payload: Column): String =
    df.agg(concat_ws(":", count(lit(1)),
        coalesce(bit_xor(xxhash64(id, payload)), lit(0L))).as("fp"))
      .head().getString(0)

  /** Memo for expensive SOURCE-derived scalars (the corpus content
    * fingerprint, the corpus count), keyed per (source path, tag) and
    * invalidated by the source's recursive file listing — relative
    * path, byte length and mtime (nanosecond precision) of every file
    * under it. The content of an immutable parquet source cannot
    * change without its listing changing (writers create new files;
    * an in-place rewrite moves mtime), so the STALENESS CHECK each
    * artifact consumer performs stays real — it just verifies via
    * file metadata instead of re-hashing the full content on every
    * invocation, exactly the snapshot-id discipline table formats use
    * in place of content re-hashes. In-JVM only (a fresh process
    * always recomputes once); the listing walk itself runs on every
    * call. Without this, every stored-artifact query paid 1–3
    * single-task full-corpus hash scans per invocation just to
    * re-derive a fingerprint the source's metadata already pins
    * (guide §1.2: don't recompute what you can prove unchanged). */
  private val sourceMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]

  private def listingSig(canon: java.io.File): String = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else {
        val mt =
          try java.nio.file.Files
            .getLastModifiedTime(f.toPath).toInstant
          catch { case _: java.io.IOException => java.time.Instant.EPOCH }
        Seq(s"${f.getPath}:${f.length}:${mt.getEpochSecond}.${mt.getNano}")
      }
    walk(canon).mkString("|")
  }

  /** Memoized `compute` for the source table at `<dir>/<table>.parquet`
    * under cache key `tag` — see [[sourceMemo]]. `tag` must encode
    * everything about the derivation besides the source content (e.g.
    * a row-filter variant), since two tags share one invalidation
    * signature. */
  def bySource(dir: String, table: String, tag: String)(
      compute: => String): String = {
    val src = new java.io.File(new java.io.File(dir), s"$table.parquet")
      .getCanonicalFile
    // no source file, no memo: callers may hand a frame that does NOT
    // derive from `<dir>/<table>.parquet` (specs feed in-memory frames
    // against scratch dirs) — with nothing on disk to invalidate on,
    // memoizing would serve the first frame's value to every later
    // one, exactly the stale-decision failure the fingerprint exists
    // to prevent
    if (!src.exists()) return compute
    val sig = listingSig(src)
    val key = s"${src.getPath}#$tag"
    val hit = sourceMemo.get(key)
    if (hit != null && hit._1 == sig) hit._2
    else {
      val v = compute
      sourceMemo.put(key, (sig, v))
      v
    }
  }

  /** Build ledger for cold-start visibility: every [[ensure]] whose
    * staleness probe MISSED (and so paid its build) records
    * `layer.table` here; [[graft.Bench]] drains it per measured pass
    * and emits the lists in the tail JSON (`cold_builds`), so a cold
    * driver window — a fresh container paying every snapshot build on
    * pass 1 — is adjudicable from the committed artifact instead of
    * inferred from pass-total spreads. Concurrent queue: ensure can
    * run from parallel query threads. */
  private val builds =
    new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** Drain and return the build ledger (oldest first). */
  def drainBuilds(): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var x = builds.poll()
    while (x != null) { out += x; x = builds.poll() }
    out.toSeq
  }

  /** Check-then-build, shared by every stored-artifact helper.
    * `checkTable`'s commit meta carries the signature; each build
    * commit keeps the store's [[ModelStore.RetainVersions]] of its
    * table.
    *
    * Concurrent-writer fallback — and ONLY that: two sessions racing
    * the same stale store both start building; the loser's commit
    * throws the store's TYPED optimistic-concurrency conflict
    * ([[ModelStore.ConcurrentWriteException]]). If the WINNER
    * committed the same signature we wanted, its artifact is
    * byte-equivalent to ours (deterministic builds keyed by
    * content + hyperparameters), so the loser serves it instead of
    * failing the query; a conflict whose winner carries a DIFFERENT
    * signature still throws, and every other failure — OOM,
    * interrupts, a broken build — propagates (the previous catch-all
    * converted fatal errors into silent success whenever the meta
    * happened to match). A retention failure after our own successful
    * commit is an ordinary error, so it fails loudly too. */
  def ensure(spark: SparkSession, store: ModelStore, layer: String,
      checkTable: String, sig: String)(build: => Unit): Unit = {
    if (store.meta(spark, layer, checkTable, StampKey).contains(sig))
      return
    // ledger entry regardless of who wins the race below: this
    // session PAID a build (cold start), which is what the bench
    // visibility is accounting for
    builds.add(s"$layer.$checkTable")
    try build
    catch {
      case e: ModelStore.ConcurrentWriteException =>
        if (!store.meta(spark, layer, checkTable, StampKey)
            .contains(sig)) throw e
    }
  }

  /** The commit-meta key [[ensure]] reads the staleness signature
    * from; builders stamp through [[stamp]], never by name. */
  private val StampKey = "corpus_fp"

  /** Commit meta carrying `sig` as the staleness stamp — for builders
    * that write through [[ensure]] themselves (several tables per
    * build, or extra meta beside the stamp). */
  def stamp(sig: String): Map[String, String] = Map(StampKey -> sig)

  /** The one-table stored artifact: [[ensure]] `table` against `sig`,
    * building it on a miss by writing `df` stamped with `sig`, and
    * return the current version. `df` is by-name — a staleness hit
    * never evaluates it. */
  def stored(spark: SparkSession, store: ModelStore, layer: String,
      table: String, sig: String, description: String,
      partitionBy: Seq[String] = Nil)(df: => DataFrame): DataFrame = {
    ensure(spark, store, layer, table, sig) {
      store.write(df, layer, table, partitionBy = partitionBy,
        description = description, meta = stamp(sig))
    }
    store.read(spark, layer, table).get
  }
}
