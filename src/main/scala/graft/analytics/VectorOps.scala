package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.io.Tables
import graft.ops.Exact
import graft.queries.Q

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Portability trick: embeddings are quantized to integer milli-units,
  * making dot products EXACT integer arithmetic; only the final
  * `dot/(|a||b|)` division runs in floating point, on bit-identical
  * inputs — so cosine scores hash-match DuckDB.
  *
  * The quantizer is `sign(x)·floor(|x·1000| + 0.5)` — round-half-away
  * built ONLY from binary-value operations (floor/abs/sign), which
  * both engines evaluate identically on the same IEEE doubles. It is
  * deliberately NOT `round(x·1000)`: Spark's `round` rounds the
  * shortest decimal string repr while DuckDB rounds the binary value,
  * and the ≈sf1 amplified corpus produced a real divergence (one
  * dimension in 2M landed on the disagreement window; caught by the
  * 10× oracle gate, q28).
  *
  * Scale shape: brute-force top-k broadcasts the (small) query set and
  * scans the corpus once — the right baseline plan at any corpus size.
  * The LSH variant blocks on sign-bucket equality (one shuffle) and is
  * the sub-linear path when the query set is itself large.
  */
object VectorOps {

  /** Float embedding → exact integer milli-units (portable
    * round-half-away; see the object scaladoc). The float is cast to
    * DOUBLE before the multiply on BOTH sides: float32→float64 is
    * exact and the float64 product is IEEE-identical, whereas leaving
    * the multiply in each engine's native float promotion produced a
    * real divergence on amplified data. */
  def quantize(c: Column): Column =
    transform(c, x =>
      (signum(x) * floor(abs(x.cast("double") * 1000d) + 0.5))
        .cast("long"))
  val QuantizeSql =
    "list_transform(embedding, " +
      "x -> CAST(sign(x) * floor(abs(CAST(x AS DOUBLE)*1000) + 0.5) " +
      "AS BIGINT))"

  /** Exact integer dot product of two quantized vectors — native
    * codegen'd Expression (graft.functions.LongArrayDot); the
    * aggregate/zip_with HOF composition is semantically identical but
    * interpreted (~10× slower on the all-pairs hot path). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotLong(a, b)

  /** Squared norm of a quantized vector (exact integer). */
  def norm2Q(a: Column): Column = dotQ(a, a)

  /** Cosine similarity from quantized vectors (deterministic double).
    * A zero-norm vector (failed encoder output — real at corpus
    * scale) is similar to NOTHING: cosine 0, not a query-killing
    * ANSI divide-by-zero (Spark 4 raises even on double division) and
    * not DuckDB's silent NULL — [[cosineSqlCase]] mirrors the same
    * convention oracle-side. 0 never crosses a dedup threshold and
    * ranks below any positively-correlated candidate in top-k. */
  def cosineQ(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    when(n2a === 0 || n2b === 0, lit(0.0)).otherwise(
      dotQ(a, b).cast("double") /
        (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))))

  /** DuckDB mirror of [[cosineQ]]'s zero-norm convention: wraps a
    * cosine SQL expression so zero-norm operands yield 0.0 exactly
    * like the engine (DuckDB's own x/0 is NULL, not an error). */
  def cosineSqlCase(n2a: String, n2b: String, cosExpr: String): String =
    s"CASE WHEN ($n2a) = 0 OR ($n2b) = 0 THEN 0.0 ELSE ($cosExpr) END"

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  private[analytics] def withQuant(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"), quantize(col("embedding"))
      .as("qv"))
      .withColumn("n2", norm2Q(col("qv")))

  // ------------------------------------------- brute-force cosine top-k
  val TopK = 10
  val NumQueries = 8

  /** Banded OR-construction width shared by the LSH ANN (q30) and the
    * embedding-dedup corpus path: `DedupBands` independent hyperplane
    * sets recover the recall a single bucket function loses to
    * near-dups straddling one plane (P[caught] = 1-(1-p)^bands).
    * Defined BEFORE the query vals that interpolate it into oracle
    * SQL — a forward reference inside an object initializes as 0 and
    * silently generates an empty plane table. */
  val DedupBands = 4

  val qAnnTopK: Q = Q(
    "q27_ann_topk",
    s"""WITH base AS (
      |  SELECT vec_id, $QuantizeSql AS qv FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    (SELECT sum(u.a*u.a) FROM (SELECT unnest(qv) a) u) AS n2
      |  FROM base),
      |p AS (
      |  SELECT q.vec_id AS q_id, b.vec_id,
      |    CASE WHEN q.n2 = 0 OR b.n2 = 0 THEN 0.0 ELSE
      |    CAST((SELECT sum(u.a*u.b)
      |          FROM (SELECT unnest(q.qv) a, unnest(b.qv) b) u) AS DOUBLE)
      |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      |      END AS cos_sim
      |  FROM n q, n b
      |  WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id)
      |SELECT q_id, vec_id, ${Exact.dbl4Sql("cos_sim")} AS cos_sim,
      |  CAST(rnk AS INTEGER) AS rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, vec_id) AS rnk FROM p) t
      |WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
    bruteTopK(s, d).withColumn("cos_sim", Exact.dbl4(col("cos_sim")))
  }

  /** Exact brute-force cosine top-k for the standard query set —
    * q27's plan with the raw-double cos_sim (presentation applies the
    * fixed 4-decimal string). Shared as the GROUND TRUTH side of the
    * ANN recall report (AnnIndex.qAnnRecall): recall@k is always
    * measured against the exact answer, never another index. */
  private[analytics] def bruteTopK(s: SparkSession, d: String)
      : DataFrame = {
    val base = withQuant(T(s, d, "embeddings"))
    val q = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("n2").as("q_n2"))
    val pairs = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineQ(col("q_qv"), col("qv"), col("q_n2"), col("n2"))
          .as("cos_sim"))
    // bounded top-k aggregation (map-side partial top-k, ≤ k rows per
    // group per partition shuffled) instead of a window sort over all
    // candidates — see graft.functions.TopKAgg. Ranking runs on the raw
    // double; presentation is a fixed 4-decimal string (repr-portable).
    topKRanked(pairs)
  }

  // ------------------------------------------------- embedding stats
  val qEmbeddingStats: Q = Q(
    "q28_embedding_stats",
    s"""WITH n AS (
      |  SELECT vec_id, label,
      |    (SELECT sum(u.a*u.a)
      |     FROM (SELECT unnest($QuantizeSql) a) u) AS n2,
      |    len(embedding) AS dim
      |  FROM embeddings)
      |SELECT label,
      |  CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(min(dim) AS INTEGER) AS dim,
      |  CAST(sum(n2) AS BIGINT) AS total_norm2,
      |  CAST(min(n2) AS BIGINT) AS min_norm2,
      |  CAST(max(n2) AS BIGINT) AS max_norm2,
      |  ${Exact.dbl4Sql("sqrt(CAST(sum(n2) AS DOUBLE) / count(*)) / 1000.0")}
      |    AS rms_norm
      |FROM n GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    withQuant(T(s, d, "embeddings"))
      .withColumn("dim", size(col("qv")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("dim").as("dim"),
        sum("n2").as("total_norm2"),
        min("n2").as("min_norm2"),
        max("n2").as("max_norm2"),
        Exact.dbl4(sqrt(sum("n2").cast("double") / count(lit(1))) / 1000.0)
          .as("rms_norm"))
      .orderBy("label")
  }

  // --------------------------------------- embedding near-dup (cosine)
  // All-pairs cosine over a deterministic sample — the exact-verification
  // stage of an embedding-dedup pipeline (candidate generation at scale
  // is qAnnLshBuckets).
  val qEmbeddingDedup: Q = Q(
    "q29_embedding_dedup",
    s"""WITH n AS (
      |  SELECT vec_id, label, $QuantizeSql AS qv,
      |    (SELECT sum(u.a*u.a)
      |     FROM (SELECT unnest($QuantizeSql) a) u) AS n2
      |  FROM embeddings WHERE vec_id % 50 = 0)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  ${Exact.dbl4Sql(
             """CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN 0.0 ELSE
      |    CAST((SELECT sum(u.x*u.y)
      |        FROM (SELECT unnest(a.qv) x, unnest(b.qv) y) u) AS DOUBLE)
      |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      |    END""")}
      |    AS cos_sim,
      |  a.label = b.label AS same_label,
      |  CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN 0.0 ELSE
      |    CAST((SELECT sum(u.x*u.y)
      |        FROM (SELECT unnest(a.qv) x, unnest(b.qv) y) u) AS DOUBLE)
      |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      |    END >= 0.95 AS is_near_dup
      |FROM n a, n b WHERE a.vec_id < b.vec_id
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val n = withQuant(T(s, d, "embeddings"))
      .filter(col("vec_id") % 50 === 0)
    val a = n.as("a")
    val b = n.as("b")
    val cos = cosineQ(col("a.qv"), col("b.qv"), col("a.n2"), col("b.n2"))
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        Exact.dbl4(cos).as("cos_sim"),
        (col("a.label") === col("b.label")).as("same_label"),
        (cos >= 0.95).as("is_near_dup"))
      .orderBy("a_id", "b_id")
  }

  // ------------------------------------------- LSH-bucketed ANN (scale)
  // Random-hyperplane LSH: deterministic pseudo-random planes, sign-bit
  // bucket per vector, candidates share a bucket. Engine-specific hash
  // seeds → rows-only driver check; recall vs brute force is asserted in
  // the ScalaTest spec.
  val NumPlanes = 6

  /** Deterministic pseudo-random hyperplane component in [-1, 1).
    * Package-visible so VectorOpsSpec can guard the q30 oracle's
    * bucket-sign margin against testdata regeneration. */
  private[analytics] def planeComponent(plane: Int, dim: Int): Double = {
    var h = plane * 2654435761L + dim * 40503L + 12345L
    h ^= (h >>> 16); h *= 2246822519L; h ^= (h >>> 13)
    ((h % 1000 + 1000) % 1000) / 500.0 - 1.0
  }

  def lshBucket(emb: Column, dims: Int, seed: Int = 0): Column = {
    val embD = emb.cast("array<double>")
    (0 until NumPlanes).map { p =>
      val plane = array((0 until dims).map(i =>
        lit(planeComponent(seed * NumPlanes + p, i))): _*)
      val dot = graft.functions.VectorExpressions.dotDouble(embD, plane)
      when(dot >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Explode a bounded top-k aggregation result into ranked rows —
    * shared presentation tail of q27/q30/q32 (the window row_number
    * form would shuffle every candidate; TopKAgg ships ≤ k rows per
    * group per partition, `graft.functions.TopKAgg`). */
  def topKRanked(pairs: DataFrame, k: Int = TopK): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    pairs
      .groupBy("q_id")
      .agg(topk(col("cos_sim"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), col("s.id").as("vec_id"),
        col("s.score").as("cos_sim"),
        (col("pos") + 1).cast(IntegerType).as("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** Banded OR-construction for ANN candidate generation: `bands`
    * independent hyperplane sets, a candidate on ANY shared bucket.
    * A single bucket function misses a true neighbor that straddles
    * one of its planes; with p = P[same bucket], banding lifts recall
    * to 1-(1-p)^bands (the same construction the embedding-dedup
    * path uses). Cost: the corpus explodes ×bands into the bucket
    * join, and multi-band hits dedup through one candidate-bounded
    * (q_id, vec_id) aggregate before top-k. */
  def lshBands(emb: DataFrame, dims: Int, bands: Int): DataFrame =
    // qv is aliased in its OWN projection first (the withQuant form):
    // quantize is a lambda-bearing HOF, excluded from subexpression
    // elimination, so inlining it under norm2Q's self-dot would run
    // the 64-element transform 3× per vector. n2 then rides in the
    // same projection as the generator: Catalyst evaluates
    // non-generator expressions in the Generate node's child project,
    // so the self-dot runs once per VECTOR — a post-explode select
    // would run it once per band row (`bands`×). CollapseProject
    // leaves the two-step shape alone (it refuses to duplicate
    // non-cheap aliased expressions).
    emb.select(col("vec_id"), col("embedding"),
        quantize(col("embedding")).as("qv"))
      .select(col("vec_id"), col("qv"), norm2Q(col("qv")).as("n2"),
        explode(array((0 until bands).map(bd =>
          struct(lit(bd).as("band_idx"),
            lshBucket(col("embedding"), dims, seed = bd).as("bucket"))): _*))
          .as("band"))
      .select(col("vec_id"), col("qv"), col("n2"),
        col("band.band_idx").as("band_idx"), col("band.bucket").as("bucket"))

  /** LSH-bucketed ANN, oracle-certified (upgraded from rows-only in
    * round 5): the hyperplanes are NOT opaque engine state — they come
    * from [[planeComponent]], five lines of wrapping 64-bit integer
    * arithmetic that DuckDB reproduces exactly (HUGEINT for the one
    * wrapping multiply, `//` for the unsigned shifts, truncation-mod
    * mirrored by sign-splitting `%`). The oracle regenerates all
    * 4-band × 6-plane × 64-dim components with that arithmetic,
    * re-derives every bucket, and re-runs candidate-join → exact
    * cosine → top-k. Bucket signs are float-robust: the smallest
    * |dot| across all (vector, plane) pairs at both verify SFs is
    * ~1e-5, eight orders above double-summation reorder noise. */
  val qAnnLshBuckets: Q = Q(
    "q30_ann_lsh",
    s"""WITH planes AS (
      |  SELECT band, p, dim,
      |    CAST((CASE WHEN s < 0 THEN -((-s) % 1000) ELSE s % 1000 END
      |      + 1000) % 1000 AS DOUBLE) / 500.0 - 1.0 AS c
      |  FROM (
      |    SELECT band, p, dim,
      |      CASE WHEN u3 >= 9223372036854775808
      |           THEN u3 - 18446744073709551616 ELSE u3 END AS s
      |    FROM (
      |      SELECT band, p, dim, xor(u2, u2 // 8192) AS u3
      |      FROM (
      |        SELECT band, p, dim,
      |          (CAST(xor(h0, h0 >> 16) AS HUGEINT) * 2246822519)
      |            % 18446744073709551616 AS u2
      |        FROM (
      |          SELECT gb.band, gp.p, gd.dim,
      |            (gb.band*6 + gp.p)*2654435761 + gd.dim*40503 + 12345
      |              AS h0
      |          FROM generate_series(0, ${DedupBands - 1}) gb(band),
      |               generate_series(0, 5) gp(p),
      |               generate_series(0, 63) gd(dim)) t0) t1) t2) t3),
      |dots AS (
      |  SELECT e.vec_id, pl.band, pl.p,
      |    sum(CAST(e.embedding[pl.dim+1] AS DOUBLE) * pl.c) AS dot
      |  FROM embeddings e JOIN planes pl ON true
      |  GROUP BY 1, 2, 3),
      |buckets AS (
      |  SELECT vec_id, band,
      |    sum(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END) AS bucket
      |  FROM dots GROUP BY 1, 2),
      |base AS (
      |  SELECT vec_id, $QuantizeSql AS qv FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    (SELECT sum(u.a*u.a) FROM (SELECT unnest(qv) a) u) AS n2
      |  FROM base),
      |cand AS (
      |  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id
      |  FROM buckets qb
      |  JOIN buckets cb ON qb.band = cb.band AND qb.bucket = cb.bucket
      |  WHERE qb.vec_id < $NumQueries AND cb.vec_id <> qb.vec_id),
      |p AS (
      |  SELECT c.q_id, c.vec_id,
      |    CASE WHEN q.n2 = 0 OR b.n2 = 0 THEN 0.0 ELSE
      |    CAST((SELECT sum(u.a*u.b)
      |          FROM (SELECT unnest(q.qv) a, unnest(b.qv) b) u) AS DOUBLE)
      |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      |      END AS cos_sim
      |  FROM cand c JOIN n q ON q.vec_id = c.q_id
      |  JOIN n b ON b.vec_id = c.vec_id)
      |SELECT q_id, vec_id, ${Exact.dbl4Sql("cos_sim")} AS cos_sim,
      |  CAST(rnk AS INTEGER) AS rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, vec_id) AS rnk FROM p) t
      |WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
    // persist: the band index feeds BOTH sides of the bucket join —
    // unpersisted, the broadcast query side would re-run the whole
    // quantize+bucket pipeline (as qSimhash/qMinhashLsh already cache
    // their indexes for the same reason)
    // (no build-scoped unpersist: the DataFrame executes after build —
    // the bench clears caches between queries, as for qSimhash's index)
    // Exchange the narrow raw rows on the key BELOW the hyperplane
    // projection (the q34 DemoCdc distribute pattern, guide §2.5): the
    // single-row-group source scan is one task, so the 96 per-vector
    // plane dots would otherwise run serially on one core before the
    // persist; post-shuffle they use the full width, and the exchange
    // carries the raw (vec_id, embedding) row. Measured (targeted
    // min-of-3): 1.55 → 0.99 s.
    val base = lshBands(T(s, d, "embeddings")
      .repartition(col("vec_id")), 64, DedupBands).persist()
    topKRanked(
      base.join(broadcast(base.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
            col("n2").as("q_n2"), col("band_idx"), col("bucket"))),
          Seq("band_idx", "bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineQ(col("q_qv"), col("qv"), col("q_n2"), col("n2"))
            .as("cos_sim"))
        // a pair hitting in m bands appears m times; top-k must rank
        // each neighbor once
        .groupBy("q_id", "vec_id").agg(max("cos_sim").as("cos_sim")))
      // ranking runs on the raw double; presentation is the fixed
      // 4-decimal string (repr-portable), as q27
      .withColumn("cos_sim", Exact.dbl4(col("cos_sim")))
  }

  // ----------------------------------------------- IVF-style ANN (scale)
  // Inverted-file variant: a TRAINED coarse quantizer (deterministic
  // Lloyd k-means — fixed init from the first K vectors, fixed
  // iteration count, so runs are reproducible), every vector assigned
  // to its nearest centroid, and queries probing only their own
  // centroid's inverted list. Assignment is one broadcast join +
  // per-vector arg-max aggregate; search cost drops from |corpus| to
  // |corpus|/K per query. Oracle-certified since round 6 (the whole
  // training chain replicated in DuckDB — see trainedSql/DuckHash);
  // recall additionally asserted in VectorOpsSpec via a planted
  // duplicate in a non-initial cell.
  val NumCentroids = 16
  val KmeansIters = 3

  /** √n-derived coarse-quantizer width for the ARTIFACT-BUILD tier
    * (floored at the pinned [[NumCentroids]] so tiny corpora keep the
    * certified-twin geometry). K ∝ √n is the standard IVF sizing rule
    * and the lever that keeps every Σ|cell|² within-cell pass (KNN
    * graph, SemDeDup) LINEAR in the corpus: cells hold ~√n vectors,
    * so Σ|cell|² ≈ n·√n / √n = n·(n/K) = n^1.5/K^0 … concretely,
    * n²/K drops from n²/16 (pinned) to n^1.5 — at the measured 100×
    * decade (200k vectors) that is the documented ~28× cut. The
    * derived K rides in the artifact staleness signature, so a corpus
    * grown past the next √n step rebuilds instead of serving stale
    * geometry. */
  def derivedK(n: Long): Int =
    math.max(NumCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** DuckDB form of [[derivedK]] over the embeddings corpus — a
    * scalar subquery, so the oracle derives the SAME K from the same
    * count (ceil∘sqrt of an exact integer is correctly rounded and
    * engine-identical). */
  val DerivedKSql: String =
    s"(SELECT GREATEST($NumCentroids, CAST(ceil(sqrt(CAST(count(*) " +
      s"AS DOUBLE))) AS BIGINT)) FROM embeddings)"

  /** Per-centroid cap on the k-means training sample (standard IVF
    * practice: quantizer quality saturates at a few hundred samples
    * per centroid, the trade every published IVF trainer makes). The
    * cap is the lever that keeps TRAINING linear at the √n-derived
    * tier: an uncapped 1/4 sample scores (n/4)·K ≈ n^1.5/4 quantized
    * cosines per Lloyd iteration at derived K=√n — the term that
    * dominated the 2M-vector decade's 1991 s cold build (SCALING.md
    * round-10) — while the capped sample bounds it at
    * SamplesPerCentroid·K² = SamplesPerCentroid·n. */
  val SamplesPerCentroid = 256

  /** Training-sample hash-gate modulus: thin the deterministic
    * xxhash64 sample from the anchor 1/4 rate once the quarter would
    * exceed [[SamplesPerCentroid]]·k vectors — m = max(4, ⌈n/cap⌉),
    * so expected sample size is ≤ cap and small corpora (every gate
    * SF) keep the round-6-certified 1/4 gate bit-for-bit. Integer
    * ceil-division on exact counts: the DuckDB replica derives the
    * SAME m from the same corpus count ([[trainedSqlAt]]). */
  private[analytics] def trainModulus(n: Long, k: Int): Long = {
    val cap = SamplesPerCentroid.toLong * k
    math.max(4L, (n + cap - 1L) / cap)
  }

  /** Driver-side centroid-table ceiling: at or below it the Lloyd
    * loop collects each round's ≤ k centroid rows and re-plants a
    * LocalRelation (the bounded-collect discipline — one job
    * shallower per round, and every consumer broadcasts a
    * LocalRelation); PAST it — reachable only at the √n-derived tier
    * with n ≳ 17M vectors — centroids stay DISTRIBUTED
    * (localCheckpoint per round) and the assignment joins without a
    * broadcast hint, so NO driver structure ever grows with K. This
    * is the round-10 verdict's What's-wrong #2: at the 100 TB design
    * point (n ≈ 10¹¹, derived K ≈ 316k, 64-dim long arrays) the old
    * collect-always shape moved ~160 MB through the driver three
    * times per build. 4096 rows ≈ 2.2 MB at 64 dims — comfortably
    * bounded. Both arms are bit-identical by construction (same
    * plan, different physical placement) — spec-pinned by forcing
    * the distributed arm at a small K (`maxCollectK = 0`). */
  val FlatCollectMaxK: Int = 4096

  /** Deterministic distributed k-means over quantized vectors: Lloyd
    * iterations where each step is a broadcast-join assignment plus a
    * per-(centroid, dim) mean aggregation — no driver-side math, no
    * randomness. Empty cells drop out (k can only shrink). Returns
    * (c_id, c_qv, c_n2). `n` is the corpus row count when the caller
    * already has it (e.g. from an artifact stamp); negative = count
    * here. `maxCollectK` gates the per-round collect
    * ([[FlatCollectMaxK]]; spec override). */
  def kmeansCentroids(base: DataFrame, k: Int = NumCentroids,
      iters: Int = KmeansIters, n: Long = -1L,
      maxCollectK: Int = FlatCollectMaxK): DataFrame = {
    // train on a deterministic hash sample — 1/4 of the corpus, CAPPED
    // at SamplesPerCentroid·k vectors via the thinned modulus
    // (trainModulus): centroid QUALITY needs only a bounded sample per
    // centroid (standard IVF practice — quantizers train on a corpus
    // subset), while the per-iteration assignment crossJoin cost is
    // sample-linear. Assignment of the FULL corpus to the trained
    // centroids happens in the caller, unsampled.
    val m = trainModulus(if (n >= 0L) n else base.count(), k)
    val train = base
      .filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0L ||
        col("vec_id") < k) // keep the seed rows so init is unchanged
    var centroids = base.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
        col("n2").as("c_n2"))
    val spark = base.sparkSession
    import spark.implicits._
    val collectArm = k <= maxCollectK
    for (_ <- 0 until iters) {
      val updated = ivfAssign(train, centroids, bcast = collectArm)
        .select(col("c_id"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("c_id", "pos").agg(avg("v").as("m"))
        .groupBy("c_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("c_id"),
          transform(col("pm"), x => round(x("m")).cast("long")).as("c_qv"))
      centroids =
        if (collectArm) {
          // each round's result is collected to the driver and
          // re-planted as a local relation: ≤ k centroid rows BY
          // DESIGN CONSTANT (the bounded-collect discipline of the
          // probe-cell lists). This both keeps the plan one iteration
          // deep (the old per-round localCheckpoint's job) and makes
          // every downstream use a broadcast of a LocalRelation — one
          // job shallower per round than checkpointing, across all
          // seven k-means consumers.
          val rows = updated.collect()
            .map(r => (r.getLong(0), r.getSeq[Long](1),
              r.getSeq[Long](1).map(x => x * x).sum))
          spark.createDataset(rows.toSeq).toDF("c_id", "c_qv", "c_n2")
        } else
          // distributed arm (K past the driver ceiling): same plan,
          // same values — the norm is the exact integer self-dot the
          // collect arm computes driver-side — but the centroid table
          // never touches the driver; localCheckpoint keeps the
          // lineage one round deep exactly as the LocalRelation did.
          updated.withColumn("c_n2", dotQ(col("c_qv"), col("c_qv")))
            .localCheckpoint()
    }
    centroids
  }

  /** IVF probe width: queries search their `NumProbes` nearest cells,
    * not just their own. A true neighbor straddling a cell boundary
    * lands in a runner-up cell — multi-probe is the standard recall
    * lever, costing ~nprobe/K of the corpus per query (still far from
    * the brute-force |corpus|). */
  val NumProbes = 3

  /** (q_id, q_qv, q_n2, c_id) with `nprobe` rows per query: the
    * query's top-`nprobe` centroid cells by quantized cosine, best
    * first (ties to the smaller c_id). K centroids is a design
    * constant, so the per-query ranking is a bounded collect over
    * ≤ K broadcast rows — no shuffle wider than |queries|. */
  def ivfProbeCells(queries: DataFrame, centroids: DataFrame,
      nprobe: Int = NumProbes): DataFrame =
    queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_qv"), col("q_n2"), col("c_id"),
        cosineQ(col("q_qv"), col("c_qv"), col("q_n2"), col("c_n2"))
          .as("c_cos"))
      .groupBy("q_id")
      .agg(first("q_qv").as("q_qv"), first("q_n2").as("q_n2"),
        slice(array_sort(collect_list(
          struct((-col("c_cos")).as("neg_cos"), col("c_id")))),
          1, nprobe).as("cells"))
      .select(col("q_id"), col("q_qv"), col("q_n2"),
        explode(col("cells.c_id")).as("c_id"))

  /** (vec_id, qv, n2, c_id): nearest-centroid assignment by max
    * quantized cosine, ties to the smallest centroid id. Arg-max as a
    * max_by aggregate (map-side partial) rather than a window sort.
    * `bcast = false` drops the broadcast hint for centroid tables
    * past [[FlatCollectMaxK]] (the executor-streamed cartesian is the
    * right plan when the table is too big to ship to every task but
    * the n·K score pass is the work anyway); results are identical
    * either way (spec-pinned). */
  def ivfAssign(base: DataFrame, centroids: DataFrame,
      bcast: Boolean = true): DataFrame =
    base.crossJoin(if (bcast) broadcast(centroids) else centroids)
      .select(col("vec_id"), col("qv"), col("n2"), col("c_id"),
        cosineQ(col("qv"), col("c_qv"), col("n2"), col("c_n2"))
          .as("c_cos"))
      .groupBy("vec_id")
      .agg(first("qv").as("qv"), first("n2").as("n2"),
        max_by(col("c_id"), struct(col("c_cos"), -col("c_id")))
          .as("c_id"))


  // ------------- hierarchical (two-level) coarse assignment (scale)
  /** Top-level quantizer width over a K-centroid table: K1 = ⌈√K⌉,
    * floored at 4 so tiny centroid tables still get a non-degenerate
    * top level. With K = ⌈√n⌉ (the derived tier) this is the classic
    * two-level IVF split — √K super-cells of ~√K centroids each — and
    * the assignment cost drops from n·K cosines to n·(K1 + K/K1) ≈
    * 2n√K: at the 20M-vector point SCALING.md names (K=4473, flat
    * assignment ≈ 89G cosines) the two-level path scores ~2.8G — the
    * ~33× cut that keeps the coarse quantizer's own build inside a
    * single node's budget, and at 1000 executors keeps the assignment
    * stage's work (not just its shuffle) sublinear in K. */
  def hierK1(k: Int): Int =
    math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** DuckDB form of [[hierK1]] over a K expression — exact-integer
    * ceil∘sqrt, engine-identical (the [[DerivedKSql]] discipline). */
  def hierK1SqlOf(kExpr: String): String =
    s"GREATEST(4, CAST(ceil(sqrt(CAST(($kExpr) AS DOUBLE))) AS BIGINT))"

  /** Two-level nearest-centroid assignment: cluster the K centroids
    * themselves into `k1` super-centroids (the same deterministic
    * Lloyd chain, over the centroid table re-id'd densely), then each
    * vector picks its top super-cell by cosine and the best member
    * centroid WITHIN that super-cell — n·(k1 + K/k1) cosines instead
    * of [[ivfAssign]]'s n·K. This is the standard
    * quantizer-over-quantizer assignment accelerator (FAISS trains a
    * secondary index over the coarse centroids for exactly this); it
    * CHANGES cell decisions for vectors whose true nearest centroid
    * lives in a runner-up super-cell, which is why the tier carries
    * its own oracle (q126) rather than riding the flat tier's.
    *
    * Scale shape: the dense re-id is a single bounded-window pass
    * over ≤K rows (K ≤ √n by the derived-tier contract — ~316k rows
    * at the 100 TB point, one task); the super training inherits
    * [[kmeansCentroids]]'s capped sample and distributed-centroid
    * arm; the sub arg-max joins on the super id with the broadcast
    * gated by the CENTROID table size (the [[FlatCollectMaxK]]
    * discipline — past it the join shuffles n rows by g_id, never
    * n·K/k1 anything: the per-super scoring pipelines into the
    * map-side max_by partial). Vectors only ever rank supers that
    * own ≥1 centroid (a Lloyd super-cell can end the chain empty),
    * so the assignment is total — one row per input vector.
    * Returns (vec_id, qv, n2, g_id, c_id): the super cell and the
    * final centroid (the flat table's own c_id namespace, so hier
    * postings drop into every cell-partitioned consumer unchanged). */
  def hierAssign(base: DataFrame, cents: DataFrame, k1: Int,
      maxCollectK: Int = FlatCollectMaxK): DataFrame = {
    // dense re-id: the Lloyd seeds (vec_id < k1) and the train-sample
    // hash gate need contiguous ids; localCheckpoint materializes the
    // bounded window once for its three consumers
    val reid = cents.select(
        (row_number().over(Window.orderBy("c_id")) - 1).cast("long")
          .as("vec_id"),
        col("c_id").as("sub_id"), col("c_qv").as("qv"),
        col("c_n2").as("n2"))
      .localCheckpoint()
    val nC = reid.count()
    val superCents = kmeansCentroids(
      reid.select("vec_id", "qv", "n2"), k1, n = nC,
      maxCollectK = maxCollectK)
    val smallTop = k1 <= maxCollectK
    // centroid → super-cell map, carrying each centroid's payload for
    // the per-vector sub arg-max
    val cmap = ivfAssign(reid.select("vec_id", "qv", "n2"), superCents,
        bcast = smallTop)
      .join(reid.select(col("vec_id"), col("sub_id")), Seq("vec_id"))
      .select(col("c_id").as("g_id"), col("sub_id"),
        col("qv").as("s_qv"), col("n2").as("s_n2"))
      .localCheckpoint()
    // vectors rank only LIVE supers (≥1 member centroid): an empty
    // super-cell would otherwise swallow its vectors in the inner
    // join below
    val liveSupers = superCents.join(
      cmap.select(col("g_id").as("c_id")).distinct(),
      Seq("c_id"), "left_semi")
    val vSuper = ivfAssign(base, liveSupers, bcast = smallTop)
      .withColumnRenamed("c_id", "g_id")
    // sub arg-max within the chosen super: ties to the smaller
    // centroid id (the ivfAssign convention, mirrored by the oracle's
    // row_number ORDER BY cos DESC, sub_id)
    vSuper.join(
        if (nC <= maxCollectK) broadcast(cmap) else cmap,
        Seq("g_id"))
      .select(col("vec_id"), col("g_id"), col("qv"), col("n2"),
        col("sub_id"),
        cosineQ(col("qv"), col("s_qv"), col("n2"), col("s_n2"))
          .as("c_cos"))
      .groupBy("vec_id")
      .agg(first("qv").as("qv"), first("n2").as("n2"),
        first("g_id").as("g_id"),
        max_by(col("sub_id"), struct(col("c_cos"), -col("sub_id")))
          .as("c_id"))
  }

  /** DuckDB replica of the ENTIRE two-level chain at flat width
    * `kExpr`: the flat Lloyd replica ([[trainedSqlAt]]) supplies the
    * centroid table; this re-ids it densely, replays the SAME Lloyd
    * machinery over it at K1 = [[hierK1SqlOf]] (seeds, xxhash64
    * train gate with the same capped modulus, [[KmeansIters]]
    * unrolled), derives the centroid→super map, and states the
    * two-step arg-max — top LIVE super by cosine, then best member
    * centroid. Returns the assigned relation
    * (vec_id, qv, n2, g_id, c_id). */
  private[analytics] def hierAssignedSqlAt(kExpr: String): String = {
    val (cents, _) = trainedSqlAt(kExpr)
    val k1 = hierK1SqlOf(kExpr)
    val reid = s"SELECT row_number() OVER (ORDER BY c_id) - 1 AS " +
      s"vec_id, c_id AS sub_id, c_qv AS qv, c_n2 AS n2 FROM ($cents) rr"
    val reidv = s"SELECT vec_id, qv, n2 FROM ($reid) rv"
    val hx = graft.ops.DuckHash.chain(
      s"SELECT vec_id AS hid FROM ($reid) rh", "hid")
    val mSql = s"GREATEST(4, ((SELECT count(*) FROM ($reid) rc) + " +
      s"$SamplesPerCentroid*($k1) - 1) // ($SamplesPerCentroid*($k1)))"
    val train = s"SELECT b.* EXCLUDE (m) FROM (SELECT b0.*, mm.m " +
      s"FROM ($reidv) b0 CROSS JOIN (SELECT $mSql AS m) mm) b " +
      s"JOIN ($hx) h ON b.vec_id = h.hid " +
      s"WHERE ((h.xxh % b.m) + b.m) % b.m = 0 OR b.vec_id < ($k1)"
    var sc = s"SELECT vec_id AS c_id, qv AS c_qv, n2 AS c_n2 " +
      s"FROM ($reidv) s0 WHERE vec_id < ($k1)"
    for (_ <- 0 until KmeansIters)
      sc = updateSql(assignSql(train, sc))
    val cmap = s"SELECT a.c_id AS g_id, r.sub_id, r.qv AS s_qv, " +
      s"r.n2 AS s_n2 FROM (${assignSql(reidv, sc)}) a " +
      s"JOIN ($reid) r ON a.vec_id = r.vec_id"
    val live = s"SELECT * FROM ($sc) ls " +
      s"WHERE c_id IN (SELECT g_id FROM ($cmap) lg)"
    val vsup = assignSql(baseNSql, live)
    s"SELECT vec_id, qv, n2, g_id, c_id FROM (" +
      s"SELECT v.vec_id, v.qv, v.n2, m.g_id, m.sub_id AS c_id, " +
      s"row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      s"${cosSql("v.qv", "m.s_qv", "v.n2", "m.s_n2")} DESC, m.sub_id) " +
      s"AS __rk FROM ($vsup) v JOIN ($cmap) m ON v.c_id = m.g_id) hh " +
      s"WHERE __rk = 1"
  }

  // ------------- DuckDB replica of the k-means training chain
  // (q32/q80 oracles). The "trained centroids" oracle-impossibility
  // recorded in rounds 2-5 fell to two observations: (a) the train
  // sample's xxhash64 gate is a short public wrapping-integer formula
  // DuckDB reproduces exactly (graft.ops.DuckHash, the q30 HUGEINT
  // technique); (b) every other training step is already exact or
  // bit-deterministic cross-engine - integer dot products, sqrt/division
  // on bit-identical doubles, integer-valued double sums far below 2^53
  // (mean update), and scale-0 round() where Spark's repr-based HALF_UP
  // and DuckDB's binary half-away-from-zero provably agree (halves are
  // exactly representable; non-halves never round differently at scale
  // 0). The fixed iteration count (KmeansIters) unrolls as chained
  // subqueries - no recursion, no state.
  private def dotSql(a: String, b: String): String =
    s"(SELECT sum(u.a*u.b) FROM (SELECT unnest($a) a, unnest($b) b) u)"
  private[analytics] def cosSql(qv: String, cqv: String, n2: String, cn2: String)
      : String =
    cosineSqlCase(n2, cn2,
      s"CAST(${dotSql(qv, cqv)} AS DOUBLE) / " +
        s"(sqrt(CAST($n2 AS DOUBLE)) * sqrt(CAST($cn2 AS DOUBLE)))")
  /** Nearest-centroid assignment (max cosine, ties to smaller c_id). */
  private def assignSql(train: String, cents: String): String =
    s"SELECT vec_id, qv, n2, c_id FROM (" +
      s"SELECT t.*, c.c_id, row_number() OVER (PARTITION BY t.vec_id " +
      s"ORDER BY ${cosSql("t.qv", "c.c_qv", "t.n2", "c.c_n2")} DESC, " +
      s"c.c_id) AS __rk FROM ($train) t CROSS JOIN ($cents) c) " +
      s"WHERE __rk = 1"
  /** Lloyd mean update: per-(centroid, dim) rounded mean, relisted. */
  private def updateSql(assigned: String): String =
    s"SELECT c_id, list(m ORDER BY pos) AS c_qv, sum(m*m) AS c_n2 " +
      s"FROM (SELECT c_id, d.pos, CAST(round(CAST(sum(qv[d.pos]) AS " +
      s"DOUBLE)/count(*)) AS BIGINT) AS m FROM ($assigned) a " +
      s"CROSS JOIN (SELECT unnest(generate_series(1, (SELECT " +
      s"len($QuantizeSql) FROM embeddings LIMIT 1))) AS pos) d " +
      s"GROUP BY c_id, d.pos) GROUP BY c_id"
  /** [[baseNSql]] over a predicate-filtered slice of the corpus —
    * emits EXACTLY the unfiltered text for pred "TRUE" so the
    * parameterization cannot perturb any existing oracle. */
  private[analytics] def baseNSqlWhere(pred: String): String = {
    val w = if (pred == "TRUE") "" else s" WHERE $pred"
    s"SELECT vec_id, qv, (SELECT sum(u.a*u.a) FROM (SELECT unnest(qv) " +
      s"a) u) AS n2 FROM (SELECT vec_id, $QuantizeSql AS qv " +
      s"FROM embeddings$w)"
  }
  private[analytics] val baseNSql = baseNSqlWhere("TRUE")
  /** (centroids, full-corpus assignment) after KmeansIters rounds at
    * quantizer width `kExpr` (a SQL expression — a literal for the
    * pinned tier, the [[DerivedKSql]] scalar subquery for the
    * √n-derived tier) - the exact chain kmeansCentroids + ivfAssign
    * execute. K appears only in the seed filters and the train-sample
    * gate; every other step is K-agnostic. */
  private[analytics] def trainedSqlAt(kExpr: String): (String, String) =
    trainedSqlOver(kExpr, "TRUE")

  /** The Lloyd training replica with the TRAIN DOMAIN restricted to
    * the `trainPred` slice of the corpus (seeds, hash gate, sample
    * modulus and iteration assignments all over the slice) — the
    * returned assignment is of the FULL corpus against those
    * centroids: the incremental-index oracle shape (history-trained
    * quantizer, everything assigned). `trainPred` "TRUE" emits
    * byte-identical text to the pre-parameterized form, so every
    * existing oracle is untouched. */
  private[analytics] def trainedSqlOver(kExpr: String,
      trainPred: String): (String, String) = {
    val w = if (trainPred == "TRUE") "" else s" WHERE $trainPred"
    val baseTrain = baseNSqlWhere(trainPred)
    val hx = graft.ops.DuckHash.chain(
      s"SELECT vec_id AS hid FROM embeddings$w", "hid")
    // the train-sample gate's modulus, derived from the same corpus
    // count the engine uses ([[trainModulus]] — exact-integer ceil
    // division, engine-identical): m = max(4, ceil(n / (256·k))).
    // At every gate SF m = 4, so the pre-cap certifications carry; at
    // decade scale the thinned gate is what keeps training linear.
    val mSql = s"GREATEST(4, ((SELECT count(*) FROM embeddings$w) + " +
      s"$SamplesPerCentroid*($kExpr) - 1) // " +
      s"($SamplesPerCentroid*($kExpr)))"
    val train = s"SELECT b.* EXCLUDE (m) FROM (SELECT b0.*, mm.m " +
      s"FROM ($baseTrain) b0 CROSS JOIN (SELECT $mSql AS m) mm) b " +
      s"JOIN ($hx) h ON b.vec_id = h.hid " +
      s"WHERE ((h.xxh % b.m) + b.m) % b.m = 0 OR b.vec_id < $kExpr"
    var cents = s"SELECT vec_id AS c_id, qv AS c_qv, n2 AS c_n2 " +
      s"FROM ($baseTrain) WHERE vec_id < $kExpr"
    for (_ <- 0 until KmeansIters)
      cents = updateSql(assignSql(train, cents))
    (cents, assignSql(baseNSql, cents))
  }

  /** The pinned-K training replica (the certified-twin anchor every
    * pre-round-10 oracle interpolates). */
  private[analytics] def trainedSql: (String, String) =
    trainedSqlAt(NumCentroids.toString)

  val qAnnIvf: Q = {
    val (cents, assigned) = trainedSql
    Q(
      "q32_ann_ivf",
      s"""WITH cells AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT b.vec_id AS q_id, c.c_id,
      |      row_number() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${cosSql("b.qv", "c.c_qv", "b.n2", "c.c_n2")}
      |          DESC, c.c_id) AS rk
      |    FROM ($baseNSql) b CROSS JOIN ($cents) c
      |    WHERE b.vec_id < $NumQueries) WHERE rk <= $NumProbes),
      |cand AS (
      |  SELECT j.q_id, a.vec_id,
      |    ${cosSql("qb.qv", "a.qv", "qb.n2", "a.n2")} AS cos_sim
      |  FROM cells j JOIN ($assigned) a ON a.c_id = j.c_id
      |  JOIN ($baseNSql) qb ON qb.vec_id = j.q_id
      |  WHERE a.vec_id <> j.q_id)
      |SELECT q_id, vec_id, ${Exact.dbl4Sql("cos_sim")} AS cos_sim,
      |  CAST(rnk AS INTEGER) AS rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, vec_id) AS rnk FROM cand) t
      |WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
    val base = withQuant(T(s, d, "embeddings")).persist()
    val cents = kmeansCentroids(base).persist()
    val assigned = ivfAssign(base, cents).persist()
    // multi-probe: each query searches its NumProbes nearest cells
    val q = ivfProbeCells(
      assigned.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("n2").as("q_n2")),
      cents)
    topKRanked(
      assigned.join(broadcast(q), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineQ(col("q_qv"), col("qv"), col("q_n2"), col("n2"))
            .as("cos_sim")))
      // ranking ran on the raw double; presentation is the fixed
      // 4-decimal string (repr-portable, the q27/q30 contract)
      .withColumn("cos_sim", Exact.dbl4(col("cos_sim")))
    }
  }

  // ------------------------------------- corpus-scale embedding dedup
  // The composed scale path (LSH candidates → exact cosine verify →
  // connected-component clustering) that replaces all-pairs scans: the
  // analog of NearDup.dedupCorpus for embedding columns, banded over
  // the shared `DedupBands` hyperplane sets (defined with the ANN
  // constants at the top of the object).

  /** Degenerate-bucket guard: a (band, bucket) holding more than this
    * many vectors is dropped from candidate generation (the analog of
    * `NearDup.MaxBucket` for SimHash bands). Oversized buckets are
    * non-discriminative — e.g. a mass of near-zero embeddings — and
    * make the within-bucket self-join quadratic; documented recall
    * caveat: a pair whose EVERY shared bucket is oversized is missed. */
  val DedupMaxBucket = 1024

  /** (vec_id, keep_id) dedup decision over an embedding corpus;
    * `vec_id != keep_id` ⇒ drop as near-duplicate (cosine ≥
    * `threshold` to something transitively in the cluster).
    *
    * Shape: the exact-cosine verification runs INSIDE the bucket
    * self-join (vectors are already on both sides of the joined row),
    * and only verified pairs flow into the distinct — a pair colliding
    * in several bands costs a few redundant codegen'd dot products,
    * which is far cheaper than shuffling every candidate pair through
    * a distinct plus two vector re-attach joins (measured 40 s → ~4 s
    * at 20k vectors). */
  def embeddingDedupCorpus(emb: DataFrame, dims: Int,
      threshold: Double = EmbDedupThreshold): DataFrame = {
    // same banded index as q30 (lshBands: n2 computed pre-explode,
    // once per vector), plus the bucket-size cap
    val base = lshBands(emb, dims, DedupBands)
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy("band_idx", "bucket")))
      .filter(col("bucket_n") <= DedupMaxBucket)
      .drop("bucket_n")
      .persist()
    val a = base.as("a")
    val b = base.as("b")
    val verified = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosineQ(col("a.qv"), col("b.qv"), col("a.n2"), col("b.n2"))
        >= threshold)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    // clusterPairs is eager and returns a checkpoint leaf — the
    // banded-signature cache is no longer referenced afterwards.
    val clustered = NearDup.clusterPairs(verified)
      .withColumnRenamed("doc_id", "vec_id")
    base.unpersist()
    emb.select(col("vec_id"))
      .join(clustered, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("keep_id"), col("vec_id")).as("keep_id"))
  }

  // Composed end-to-end embedding dedup. Oracle (upgraded from
  // rows-only in round 5, mirroring q35's upgrade): the hyperplane
  // seeds are engine-specific, but the LSH stage only GENERATES
  // candidates — the decision set is "pairs passing the EXACT
  // quantized-cosine verify, closed transitively, min label per
  // component", which DuckDB can compute directly as all-pairs
  // cosine ≥ threshold + a recursive-CTE closure (fine at oracle
  // scale — the banded index is the 100 TB path). The compare is
  // meaningful only where banding recall is total; on the testdata
  // corpus it is trivially so (exact all-pairs max cosine < 0.90 at
  // both sf0.01 and sf0.1, so both sides must emit the identity
  // mapping — the oracle certifies NO FALSE POSITIVES; recall on
  // constructed near-dup corpora stays asserted by VectorOpsSpec).
  val qEmbeddingDedupCorpus: Q = Q(
    "q39_embedding_dedup_corpus",
    s"""WITH RECURSIVE m AS (
      |  SELECT vec_id, $QuantizeSql AS qv,
      |    (SELECT sum(u.a*u.a)
      |     FROM (SELECT unnest($QuantizeSql) a) u) AS n2
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM m a JOIN m b ON a.vec_id < b.vec_id
      |  WHERE CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN 0.0 ELSE
      |      CAST((SELECT sum(u.x*u.y)
      |          FROM (SELECT unnest(a.qv) x, unnest(b.qv) y) u) AS DOUBLE)
      |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      |      END >= 0.95),
      |edges AS (
      |  SELECT a_id AS a, b_id AS b FROM p
      |  UNION SELECT b_id, a_id FROM p),
      |r(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS vec_id, min(b) AS mn FROM r GROUP BY a)
      |SELECT v.vec_id,
      |  least(v.vec_id, coalesce(c.mn, v.vec_id)) AS keep_id
      |FROM embeddings v LEFT JOIN comp c USING (vec_id)
      |ORDER BY v.vec_id""".stripMargin) { (s, d) =>
    // served from the corpus-keyed stored decision (the
    // NearDup.clusterDecisionStored discipline for the embedding
    // column): deterministic, so artifact ≡ the in-memory banded
    // chain (spec-pinned); the oracle replays the full closure
    embeddingDedupStored(s, d).orderBy("vec_id")
  }.copy(sideEffecting = true)

  /** q39 decision threshold and the corpus's embedding width —
    * NAMED so the staleness signature interpolates the values the
    * build actually uses (a retune moves the signature; hand-edited
    * literals could silently serve stale decisions). */
  val EmbDedupThreshold = 0.95
  val EmbDims = 64

  private def embDedupSig(fp: String): String =
    s"$fp|embdedup,b=$DedupBands,mb=$DedupMaxBucket," +
      s"t=$EmbDedupThreshold,d=$EmbDims"

  /** The q39 dedup decision (vec_id → keep_id) as a corpus-keyed
    * stored artifact: the banded LSH → exact-verify → fixpoint
    * clustering is a pure function of the embedding corpus, so it
    * runs once per snapshot (staleness-keyed by content fingerprint
    * PLUS the banding/threshold hyperparameters) and every invocation
    * reads the decision — production dedup's own lifecycle, and the
    * 100 TB shape: the global clustering is a snapshot job, not a
    * per-query one. */
  private[analytics] def embeddingDedupStored(s: SparkSession,
      d: String): DataFrame = {
    val store = graft.io.ArtifactStore.forDir("cluster", d)
    val emb = T(s, d, "embeddings")
    // listing-invalidated memo (the AnnIndex.corpusFp discipline) —
    // same formula over the same source, so the shared "fp" tag is
    // exactly right
    val fp = graft.io.ArtifactStore.bySource(d, "embeddings", "fp")(
      graft.io.ArtifactStore.contentFp(emb, col("vec_id"),
        col("embedding")))
    graft.io.ArtifactStore.stored(s, store, "cluster", "emb_dedup",
      embDedupSig(fp), "embedding dedup decision (vec_id -> keep_id)") {
      embeddingDedupCorpus(emb, EmbDims, EmbDedupThreshold)
    }
  }

  // ------------------------------------- corpus cluster profiling
  // The "what domains does my corpus contain" organization step:
  // reuse the IVF quantizer (trained k-means) to partition the
  // embedding space, then profile each cluster with EXACT-integer
  // centroid-affinity stats (quantized dot products — no double
  // averaging, so re-runs are bit-identical). One broadcast-join
  // assignment + one agg shuffle on the cluster id.
  // Oracle (upgraded from rows-only in round 6): the "trained
  // centroids are not a single SQL" impossibility fell to the
  // DuckHash xxhash64 replica — the whole Lloyd chain unrolls as
  // chained subqueries (see trainedSql), after which these stats are
  // pure exact-integer arithmetic over the assignment.
  val qEmbeddingClusters: Q = {
    val (cents, assigned) = trainedSql
    // halfUpDivSql is sign-symmetric (HALF_UP away from zero, Exact):
    // a cluster's net affinity can be negative and needs no extra
    // sign handling here
    val mean = Exact.halfUpDivSql("sum_dot", "n_vectors")
    Q(
      "q80_embedding_clusters",
      s"""SELECT c_id, CAST(n_vectors AS BIGINT) AS n_vectors,
      |  CAST($mean AS BIGINT) AS mean_dot,
      |  CAST(min_dot AS BIGINT) AS min_dot,
      |  CAST(max_dot AS BIGINT) AS max_dot FROM (
      |  SELECT a.c_id, count(*) AS n_vectors,
      |    sum(${dotSql("a.qv", "c.c_qv")}) AS sum_dot,
      |    min(${dotSql("a.qv", "c.c_qv")}) AS min_dot,
      |    max(${dotSql("a.qv", "c.c_qv")}) AS max_dot
      |  FROM ($assigned) a JOIN ($cents) c USING (c_id)
      |  GROUP BY a.c_id) t ORDER BY c_id""".stripMargin) { (s, d) =>
      // coarse tier from the shared staleness-keyed artifact store
      // (AnnIndex.tierArtifacts): the centroids/assignment are
      // bit-identical to the in-memory chain (deterministic training,
      // content-fingerprint staleness), so the per-cluster profile
      // reads them instead of retraining; the oracle replays the full
      // Lloyd chain either way
      val (cents, assigned) =
        AnnIndex.tierArtifacts(s, d, AnnIndex.pinned)
      assigned
        .join(broadcast(cents), "c_id")
        .withColumn("dot", dotQ(col("qv"), col("c_qv")))
        .groupBy("c_id")
        .agg(count(lit(1)).as("n_vectors"), sum("dot").as("sum_dot"),
          min("dot").as("min_dot"), max("dot").as("max_dot"))
        // halfUpDiv is sign-symmetric (HALF_UP away from zero): a
        // cluster's net affinity can be negative and rounds by |sum|
        .withColumn("mean_dot",
          graft.ops.Exact.halfUpDiv(col("sum_dot"), col("n_vectors")))
        .select("c_id", "n_vectors", "mean_dot", "min_dot", "max_dot")
        .orderBy("c_id")
    }.copy(sideEffecting = true)
  }

  // ------------------------------------- semantic dedup (SemDeDup)
  /** Within-cluster semantic dedup (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus with the trained k-means
    * quantizer, then inside each cell drop every vector with cosine ≥
    * `threshold` to a lower-id cell-mate. The cell partition is the
    * paper's scale lever and the one this plan inherits: candidate
    * pairs form only inside a cell, so cost is Σ|cell|² with k grown
    * alongside the corpus — never |corpus|². Returns one row per
    * vector: (vec_id, c_id, keep_flag 1|0). */
  def semDedup(emb: DataFrame, k: Int = NumCentroids,
      threshold: Double = SemDedupThreshold): DataFrame = {
    val base = withQuant(emb).persist()
    // cents is a localCheckpoint leaf (per-iteration, inside), so the
    // training chain is not re-derived by the assignment below
    val cents = kmeansCentroids(base, k)
    semDedupFromAssigned(ivfAssign(base, cents).persist(), threshold)
  }

  /** The within-cell dedup decision alone, over an already-computed
    * cell assignment (vec_id, c_id, qv, n2) — consumers of the stored
    * coarse artifact ([[AnnIndex.tierArtifacts]]) run only this
    * Σ|cell|² pair pass per query. */
  private[analytics] def semDedupFromAssigned(assigned: DataFrame,
      threshold: Double = SemDedupThreshold): DataFrame = {
    val a = assigned.as("a")
    val b = assigned.as("b")
    val dropped = a.join(b,
        col("a.c_id") === col("b.c_id") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosineQ(col("a.qv"), col("b.qv"), col("a.n2"), col("b.n2"))
        >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("__drp", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        when(col("__drp").isNull, lit(1)).otherwise(lit(0))
          .as("keep_flag"))
  }

  /** SemDeDup decision threshold over the documents' embedding corpus.
    * 0.40 sits inside the testdata's cosine range (max all-pairs
    * ≈ 0.60 at sf0.1) so real drops are exercised; the ≥-compare is
    * bit-deterministic cross-engine regardless of margin — both sides
    * evaluate the identical IEEE expression on identical operands
    * (exact integer dot, correctly-rounded sqrt and divide). */
  val SemDedupThreshold = 0.40

  // Oracle: COMPLETE, no recall caveat — unlike the banded q39 path,
  // the within-cell pair set is exhaustive on both sides, and the
  // cell assignment is the already-certified q32/q80 Lloyd replica
  // (trainedSql). The only approximation SemDeDup makes — a near-dup
  // pair split across two cells is never compared — is replicated
  // exactly because both engines compute the same assignment.
  val qSemDedup: Q = {
    val (_, assigned) = trainedSql
    val cos = cosSql("a.qv", "b.qv", "a.n2", "b.n2")
    Q(
      "q96_semdedup",
      s"""WITH assigned AS ($assigned),
        |drp AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b
        |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        |  WHERE $cos >= $SemDedupThreshold)
        |SELECT s.vec_id, s.c_id,
        |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS keep_flag
        |FROM assigned s LEFT JOIN drp d USING (vec_id)
        |ORDER BY s.vec_id""".stripMargin) { (s, d) =>
      // cell assignment from the shared stored coarse tier (identical
      // to the in-memory chain — see q80); only the within-cell pair
      // pass runs per query
      semDedupFromAssigned(
        AnnIndex.tierArtifacts(s, d, AnnIndex.pinned)._2)
        .orderBy("vec_id")
    }.copy(sideEffecting = true)
  }

  /** SemDeDup at the √n-derived quantizer width — the paper's own
    * scale prescription ("k grown alongside the corpus") engaged the
    * way q119 engages it for the KNN graph: the within-cell pair pass
    * runs over the DERIVED-K stored assignment ([[AnnIndex
    * .tierArtifacts]] at [[AnnIndex.scaled]]), so Σ|cell|² stays
    * ~n^1.5 instead of n²/16, and the oracle replays the identical
    * Lloyd chain at the same scalar-subquery K, certifying the
    * decision at the non-default geometry. q96 remains the
    * pinned-anchor twin. */
  val qSemDedupScaled: Q = {
    val (_, assigned) = trainedSqlAt(DerivedKSql)
    val cos = cosSql("a.qv", "b.qv", "a.n2", "b.n2")
    Q(
      "q124_semdedup_scaled",
      s"""WITH assigned AS ($assigned),
        |drp AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b
        |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        |  WHERE $cos >= $SemDedupThreshold)
        |SELECT s.vec_id, s.c_id,
        |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS keep_flag
        |FROM assigned s LEFT JOIN drp d USING (vec_id)
        |ORDER BY s.vec_id""".stripMargin) { (s, d) =>
      semDedupFromAssigned(
        AnnIndex.tierArtifacts(s, d, AnnIndex.scaled)._2)
        .orderBy("vec_id")
    }.copy(sideEffecting = true)
  }

  val all: Seq[Q] =
    Seq(qAnnTopK, qEmbeddingStats, qEmbeddingDedup, qAnnLshBuckets,
      qAnnIvf, qEmbeddingDedupCorpus, qEmbeddingClusters, qSemDedup,
      qSemDedupScaled)
}
