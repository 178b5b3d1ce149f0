package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{BroadcastGate, Exact}
import graft.queries.Q

/** Near-duplicate detection for LLM training-data pipelines.
  *
  * Three tiers, all shuffle-bounded and driver-free, so the same plans
  * run at 100 TB:
  *  - exact n-gram Jaccard over a document-frequency-capped shingle
  *    inverted index (the capped join IS the LSH-style blocking: common
  *    shingles are dropped, so the candidate join can't blow up);
  *  - MinHash signatures (k hash functions as pure expressions — no
  *    shuffle) + banded LSH bucketing (one shuffle on band key);
  *  - SimHash (bitwise fingerprint) + 8-bit-band blocking + Hamming
  *    verification.
  */
object NearDup {

  /** Shingle width of the n-gram near-dup family — [[shingles3]] and
    * [[shingleIndex]] both derive their construction from it, and
    * every posting-list/cluster staleness signature interpolates it
    * (the coarseSig discipline: a width retune must move the
    * signatures, or retuned code would silently serve posting lists
    * and cluster decisions computed under the old width). The DuckDB
    * oracles hardcode the 3-gram SQL form; changing this requires
    * regenerating them. */
  val ShingleN = 3

  /** n-gram word shingles ([[ShingleN]]), distinct, empty for docs
    * under [[ShingleN]] tokens. */
  def shingles3(text: Column): Column = {
    val t = split(text, "\\s+")
    array_distinct(
      when(size(t) >= ShingleN,
        transform(sequence(lit(1), size(t) - (ShingleN - 1)), i =>
          concat_ws(" ", (0 until ShingleN)
            .map(k => element_at(t, i + lit(k))): _*)))
        .otherwise(array().cast("array<string>")))
  }

  /** Distinct 3-gram shingle inverted index `(doc_id, s)` — the
    * relational form of [[shingles3]]. posexplode + window `lead` stays
    * fully inside whole-stage codegen, where the array-HOF form is
    * interpreted per row (measured ~20× slower at sf0.1).
    *
    * ONE shuffle, of the SLIM pre-explode rows: the docs are hash
    * repartitioned on the id FIRST, so the window (partitionBy id),
    * the distinct (id, s) and every downstream per-doc aggregate
    * ([[minhashSigs]]' groupBy) are all satisfied by that partitioning
    * — hash(id) co-locates any (id, *) clustering — and none of the
    * EXPLODED token rows (~20× the text bytes) ever ride an exchange.
    * The same move fans a single-split source file out across the
    * cluster before the CPU-heavy tokenize/explode work, instead of
    * leaving it on the one task the file split gave it. */
  def shingleIndex(docs: DataFrame, id: String, text: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(id).orderBy("pos")
    val exploded = docs
      .repartition(col(id))
      .select(col(id), posexplode(split(text, "\\s+")).as(Seq("pos", "w1")))
    // window leads 1..ShingleN-1 — the width is DERIVED from the named
    // constant the staleness signatures interpolate, never a parallel
    // hard-coded literal
    val withLeads = (1 until ShingleN).foldLeft(exploded) { (df, k) =>
      df.withColumn(s"w${k + 1}", lead("w1", k).over(w))
    }
    withLeads
      .filter(col(s"w$ShingleN").isNotNull)
      .select(col(id), concat_ws(" ",
        (1 to ShingleN).map(k => col(s"w$k")): _*).as("s"))
      .dropDuplicates(id, "s")
  }

  /** Drop shingles appearing in more than `maxDf` docs (stop-shingles):
    * bounds candidate-pair fan-out, same role as LSH banding. */
  val MaxDf = 50

  /** Total entry volume (Σ|docs| over lists) of a posting-list table
    * — the measured quantity every per-doc `sizes` broadcast is gated
    * on (entries ≥ distinct docs, so it bounds the sizes row count
    * from above with ONE scan and no extra aggregation). */
  private[analytics] def entriesOf(lists: DataFrame): Long =
    lists.agg(coalesce(sum(size(col("docs"))), lit(0L)))
      .head().getLong(0)

  /** [[graft.ops.BroadcastGate]] width of a per-doc `sizes` row
    * (doc_id, n). Every sizes lookup join is volume-gated (the q107
    * discipline): entries ≥ docs, so `entries` rows of this width
    * bound the table from above. A sizes table is trivially
    * broadcastable at gate SFs but unbounded by any design constant;
    * past the budget the joins run as shuffles — still O(candidates)
    * rows. Both plans emit identical results (specs force the gate
    * both ways per family). */
  val SizesRowBytes: Long = 8L * 2 + 8

  /** Pair intersection counts over a df-capped inverted index, WITHOUT
    * the classic index self-join: `groupBy(s)` collects each shingle's
    * complete doc list into a [[graft.functions.BoundedSetAgg]] buffer
    * (map-side capped at maxDf+1, overflowed stop-shingles dropped),
    * then in-group pairs explode from the sorted list — one shuffle of
    * the index instead of three (window df-count + both self-join
    * sides) and no index-sized join hash table. Returns
    * `(a_id, b_id, n_inter)` with `a_id < b_id`, and the per-doc
    * kept-shingle sizes `(id, n)` — both over the SAME capped index
    * the self-join form used, so results are identical.
    *
    * Third element is the gated sizes-broadcast wrapper (as many
    * [[SizesRowBytes]] rows as the persisted lists' measured entry
    * count — a cache scan); fourth releases the internal posting-list
    * cache — call it once pairs/sizes are fully consumed (eager
    * composers like [[dedupCorpus]] do; lazy query entries leave it
    * to the harness-level cache clear). */
  private[analytics] def invertedPairCounts(sh: DataFrame, id: String,
      maxDf: Int = MaxDf, broadcastCap: Long = BroadcastGate.MaxBytes)
      : (DataFrame, DataFrame, DataFrame => DataFrame, () => Unit) = {
    // persist: feeds pair explosion, per-doc sizes, AND the gate count
    val lists = postingLists(sh, id, maxDf).persist()
    val (pairs, sizes) = pairCountsFromLists(lists, id)
    (pairs, sizes,
      BroadcastGate(entriesOf(lists), SizesRowBytes, broadcastCap),
      () => { lists.unpersist(); () })
  }

  /** The df-capped posting lists alone: one sorted doc-id array per
    * kept shingle (stop-shingles past `maxDf` dropped map-side). */
  private[graft] def postingLists(sh: DataFrame, id: String,
      maxDf: Int = MaxDf): DataFrame = {
    val boundedSet = udaf(new graft.functions.BoundedSetAgg(maxDf),
      org.apache.spark.sql.Encoders.scalaLong)
    sh.groupBy("s").agg(boundedSet(col(id)).as("docs"))
      .filter(size(col("docs")) <= maxDf)
      .select("docs")
  }

  /** Pair/size extraction over already-built posting lists —
    * consumers of the STORED lists ([[postingListsStored]]) run only
    * this part per query. */
  private[graft] def pairCountsFromLists(lists: DataFrame,
      id: String): (DataFrame, DataFrame) = {
    val pairs = lists
      .filter(size(col("docs")) >= 2)
      .select(posexplode(col("docs")).as(Seq("i", "a_id")), col("docs"))
      // docs is ascending (BoundedSetAgg.finish sorts), so every
      // (element i, element j>i) pair already satisfies a_id < b_id
      .select(col("a_id"), explode(
        slice(col("docs"), col("i") + lit(2), size(col("docs"))))
        .as("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_inter"))
    val sizes = lists.select(explode(col("docs")).as(id))
      .groupBy(id).agg(count(lit(1)).as("n"))
    (pairs, sizes)
  }

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // ---------------------------------------------- exact n-gram Jaccard
  val qNgramJaccard: Q = Q(
    "q24_ngram_jaccard",
    s"""WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |keep AS (
      |  SELECT s FROM sh GROUP BY s
      |  HAVING count(DISTINCT doc_id) <= $MaxDf),
      |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(count(*) AS BIGINT) AS n_inter
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.a_id, p.b_id, p.n_inter,
      |  CAST(sa.n + sb.n - p.n_inter AS BIGINT) AS n_union,
      |  ${Exact.dec4Sql(Exact.halfUpDivSql("p.n_inter*10000",
           "sa.n + sb.n - p.n_inter"))} AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON p.a_id = sa.doc_id
      |JOIN sizes sb ON p.b_id = sb.doc_id
      |WHERE p.n_inter * 10000 >= (sa.n + sb.n - p.n_inter) * 5000
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    // posting lists from the corpus-keyed stored artifact (one
    // tokenize→shingle→bounded-set pass per corpus snapshot, shared
    // with q98); per query only the pair counting runs. Deterministic,
    // so artifact ≡ the in-memory lists (spec-pinned); the oracle
    // replays the full chain either way.
    val (lists, sized) = postingListsStored(s, d, T(s, d, "documents"))
    val (pairs, sizes) = pairCountsFromLists(lists, "doc_id")
    jaccardFromCounts(pairs, sizes, sized)
      .orderBy("a_id", "b_id")
  }.copy(sideEffecting = true)

  /** The Jaccard ≥ 0.5 pair test alone, over already-computed
    * pair/size counts — consumers of the stored posting lists run
    * only this part per query. `sized` is the gated broadcast wrapper
    * ([[SizesRowBytes]]) for the two per-doc sizes lookup joins; specs
    * force it both ways and assert identical pair sets. */
  private[analytics] def jaccardFromCounts(pairs: DataFrame,
      sizes: DataFrame, sized: DataFrame => DataFrame): DataFrame = {
    val sa = sized(sizes.as("sa"))
    val sb = sized(sizes.as("sb"))
    val unionN = col("sa.n") + col("sb.n") - col("n_inter")
    pairs
      .join(sa, col("a_id") === col("sa.doc_id"))
      .join(sb, col("b_id") === col("sb.doc_id"))
      // jaccard >= 0.5, tested in exact integer space
      .filter(col("n_inter") * 10000 >= unionN * 5000)
      .select(col("a_id"), col("b_id"), col("n_inter"),
        unionN.as("n_union"),
        Exact.dec4(Exact.halfUpDiv(col("n_inter") * 10000, unionN))
          .as("jaccard"))
  }

  // ---------------------------------------------- shingle containment
  /** Asymmetric containment (Broder 1997, "On the resemblance and
    * containment of documents"): |sh(A) ∩ sh(B)| / |sh(A)| ≥ τ flags A
    * as CONTAINED in B — the sub-document/boilerplate/quotation case
    * resemblance (q24's symmetric Jaccard) structurally misses: a
    * short doc fully embedded in a long one has high containment but
    * low Jaccard. Over already-computed pair/size counts from the same
    * df-capped inverted index as q24 (never all-pairs), both
    * directions of each candidate pair are tested in exact integer
    * space (τ = 0.8 as ·10000 ≥ ·8000). `sized` is the gated broadcast
    * wrapper ([[SizesRowBytes]]) for the two per-doc sizes lookup
    * joins; specs force it both ways and assert identical pair sets. */
  private[graft] def containmentFromCounts(pairs: DataFrame,
      sizes: DataFrame, sized: DataFrame => DataFrame): DataFrame = {
    val sa = sized(sizes.as("sa"))
    val sb = sized(sizes.as("sb"))
    val j = pairs
      .join(sa, col("a_id") === col("sa.doc_id"))
      .join(sb, col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"), col("n_inter"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
    val dirA = j.filter(col("n_inter") * 10000 >= col("na") * 8000)
      .select(col("a_id").as("contained_id"),
        col("b_id").as("container_id"), col("n_inter"),
        col("na").as("n_contained"))
    val dirB = j.filter(col("n_inter") * 10000 >= col("nb") * 8000)
      .select(col("b_id").as("contained_id"),
        col("a_id").as("container_id"), col("n_inter"),
        col("nb").as("n_contained"))
    dirA.unionByName(dirB)
      .withColumn("containment",
        Exact.dec4(Exact.halfUpDiv(col("n_inter") * 10000,
          col("n_contained"))))
  }

  val qContainment: Q = Q(
    "q98_containment",
    s"""WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |keep AS (
      |  SELECT s FROM sh GROUP BY s
      |  HAVING count(DISTINCT doc_id) <= $MaxDf),
      |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
      |j AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(count(*) AS BIGINT) AS n_inter,
      |    any_value(sa.n) AS na, any_value(sb.n) AS nb
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN sizes sa ON a.doc_id = sa.doc_id
      |  JOIN sizes sb ON b.doc_id = sb.doc_id
      |  GROUP BY 1, 2),
      |dir AS (
      |  SELECT a_id AS contained_id, b_id AS container_id, n_inter,
      |    CAST(na AS BIGINT) AS n_contained
      |  FROM j WHERE n_inter * 10000 >= na * 8000
      |  UNION ALL
      |  SELECT b_id, a_id, n_inter, CAST(nb AS BIGINT)
      |  FROM j WHERE n_inter * 10000 >= nb * 8000)
      |SELECT contained_id, container_id, n_inter, n_contained,
      |  ${Exact.dec4Sql(Exact.halfUpDivSql("n_inter*10000",
           "n_contained"))} AS containment
      |FROM dir ORDER BY contained_id, container_id""".stripMargin) {
    (s, d) =>
      // pair counts from the stored posting lists (shared with q24)
      val (lists, sized) = postingListsStored(s, d,
        T(s, d, "documents"))
      val (pairs, sizes) = pairCountsFromLists(lists, "doc_id")
      containmentFromCounts(pairs, sizes, sized)
        .orderBy("contained_id", "container_id")
  }.copy(sideEffecting = true)

  // -------------------------------------------------- MinHash + LSH
  // Signature construction is shuffle-free (k=32 pure hash expressions
  // over the shingle array); LSH banding (8 bands × 4 rows) induces the
  // single candidate-generation shuffle.
  //
  // The k-th hash is TWO-LEVEL: base = xxhash64(shingle) once, then
  // h_k = xxhash64(k, base) — an int lane + an 8-byte lane. vs the
  // earlier xxhash64(k, shingle) form this hashes the ~30-byte shingle
  // string ONCE instead of 32× (the per-k work drops to a fixed 8-byte
  // lane, all codegen'd), and it is what made the q25 DuckDB oracle
  // possible: the 8-byte lane is the short replicable formula
  // (DuckHash.longLaneK1/longLaneFinish) while 32 full variable-length
  // string hashes per shingle were prohibitive oracle-side. Min over a
  // 64-bit universal-ish family per seed — the MinHash estimator is
  // unchanged.
  val NumHashes = 32
  val NumBands = 8
  val RowsPerBand: Int = NumHashes / NumBands
  /** Candidate pairs survive when ≥ this many of the [[NumHashes]]
    * signature positions agree (estimated Jaccard ≥ 0.4). Derived,
    * never hardcoded: the engine filter AND the q25 oracle both read
    * it, so retuning NumHashes or the fraction cannot silently leave
    * the oracle certifying a different threshold. */
  val MinAgree: Int = (0.4 * NumHashes).ceil.toInt

  def minhashSignature(sh: Column): Column = {
    val base = transform(sh, s => xxhash64(s))
    array((0 until NumHashes).map(k =>
      array_min(transform(base, h => xxhash64(lit(k), h)))): _*)
  }

  // THE one place the minhash signature, banded bucket hash, and
  // agreement estimate are defined (the withSimhash convention):
  // q25's in-memory query and NearDupIndex's PERSISTED index both
  // build on these, so their signatures can never silently diverge —
  // drift here would make every stored historical signature
  // unmatchable without any test failing.

  /** `(id, sig)` — signatures via explode → hash-aggregate of k
    * min-hashes: unlike the transform/array_min HOF form (kept in
    * [[minhashSignature]] for expression-level composition), the
    * exploded form stays inside whole-stage codegen — xxhash64 and
    * min are vectorized — and costs one shuffle on the id. Docs with
    * fewer than 3 tokens have no shingles and are absent. */
  def minhashSigs(docs: DataFrame, id: String, text: Column): DataFrame = {
    val sh = shingleIndex(docs, id, text)
      .withColumn("hb", xxhash64(col("s")))
    val minCols = (0 until NumHashes).map(k =>
      min(xxhash64(lit(k), col("hb"))).as(s"h$k"))
    sh.groupBy(id).agg(minCols.head, minCols.tail: _*)
      .select(col(id),
        array((0 until NumHashes).map(k => col(s"h$k")): _*).as("sig"))
  }

  /** `(id, band_idx, band_hash)` — slim banded bucket rows (3 longs a
    * row; the signature payload never rides the candidate shuffle).
    * `carry` columns ride along between the id and the band columns,
    * for a caller that consumes each band row in the same stage. */
  def minhashBandRows(sigs: DataFrame, id: String,
      carry: Column*): DataFrame =
    sigs.select((col(id) +: carry) :+
      posexplode(array((0 until NumBands).map { b =>
        xxhash64((Seq(lit(b): Column) ++ (1 to RowsPerBand).map(r =>
          element_at(col("sig"), b * RowsPerBand + r))): _*)
      }: _*)).as(Seq("band_idx", "band_hash")): _*)

  /** Fraction of agreeing signature positions — the Jaccard
    * estimator verified pairs are thresholded on. */
  def sigAgreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), e => e)) /
      lit(NumHashes.toDouble)

  /** Shared oracle CTE fragment: given a relation `docsrc` providing
    * (doc_id, text), emits the CTE definitions sh / persd / minh /
    * brow / bseed / bsrc / bands replicating shingles → two-level
    * minhash — one string XXH64 per distinct shingle
    * ([[graft.ops.DuckHash.strChain]]), then 32 seeded 8-byte lanes
    * off the shared seed-independent k1, with the int-lane seed
    * constants taken from Spark's own XXH64 via
    * [[graft.ops.DuckHash.intLaneConst]] — and the per-doc per-band
    * hash (int lane + 4 chained long lanes). q25 composes the pair
    * query on top; q92 composes the two-batch incremental fold. */
  private[analytics] def minhashOracleCtes(docsrc: String): String = {
    import graft.ops.DuckHash
    val mask = (BigInt(1) << 64) - 1
    val shSql =
      s"""SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
        |      FROM $docsrc),
        |     unnest(generate_series(1, len(t) - 2)) AS u(i)""".stripMargin
    var hb = DuckHash.strChain("SELECT DISTINCT s FROM sh",
      "s", "42", out = "sh_h")
    hb = DuckHash.longLaneK1(hb, "sh_h", "__k1")
    // 32 seed lanes: C_k = xxhash64(int k, 42) as UBIGINT
    val seedRows = (0 until NumHashes).map(k =>
      s"($k, ${BigInt(DuckHash.intLaneConst(k)) & mask}::UBIGINT)")
      .mkString(", ")
    var ps = s"SELECT * FROM ($hb) CROSS JOIN " +
      s"(VALUES $seedRows) seeds(k, __ck)"
    ps = DuckHash.longLaneFinish(ps, "__k1", "__ck", "h")
    val bandSeeds = (0 until NumBands).map(b =>
      s"($b, ${DuckHash.intLaneConst(b)}::BIGINT)").mkString(", ")
    var bh = "SELECT * FROM bsrc"
    for (i <- 1 to RowsPerBand) {
      val seed = if (i == 1) "bsd" else s"s${i - 1}"
      bh = DuckHash.longChainSeeded(bh, s"e$i", seed, out = s"s$i")
    }
    s"""sh AS ($shSql),
       |persd AS (SELECT s, k, h FROM ($ps)),
       |minh AS (
       |  SELECT sh.doc_id, p.k, min(p.h) AS mh
       |  FROM sh JOIN persd p USING (s)
       |  GROUP BY sh.doc_id, p.k),
       |brow AS (
       |  SELECT doc_id, CAST(k // $RowsPerBand AS INTEGER) AS band_idx,
       |    ${(1 to RowsPerBand).map(r =>
      s"max(CASE WHEN k % $RowsPerBand = ${r - 1} THEN mh END) AS e$r")
      .mkString(",\n    ")}
       |  FROM minh GROUP BY doc_id, k // $RowsPerBand),
       |bseed AS (SELECT * FROM (VALUES $bandSeeds) v(band_idx, bsd)),
       |bsrc AS (SELECT b.*, s.bsd FROM brow b JOIN bseed s USING (band_idx)),
       |bands AS (SELECT doc_id, band_idx, s$RowsPerBand AS band_hash
       |          FROM ($bh))""".stripMargin
  }

  private def q25OracleSql: String = {
    val est = Exact.dec4Sql(
      Exact.halfUpDivSql("n_agree*10000", NumHashes.toString))
    s"""WITH ${minhashOracleCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |agree AS (
       |  SELECT c.a_id, c.b_id,
       |         sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS n_agree
       |  FROM cand c
       |  JOIN minh ma ON ma.doc_id = c.a_id
       |  JOIN minh mb ON mb.doc_id = c.b_id AND mb.k = ma.k
       |  GROUP BY c.a_id, c.b_id)
       |SELECT a_id, b_id, $est AS est_jaccard
       |FROM agree WHERE n_agree >= $MinAgree ORDER BY a_id, b_id""".stripMargin
  }

  val qMinhashLsh: Q = Q("q25_minhash_lsh", q25OracleSql) { (s, d) =>
    val sigs = minhashSigs(T(s, d, "documents"), "doc_id", col("text"))
      .persist()
    val bands = minhashBandRows(sigs, "doc_id").persist()
    val a = bands.as("a")
    val b = bands.as("b")
    // dedup candidate pairs BEFORE the (interpreted) signature-agreement
    // estimate: a pair colliding in several bands must be verified once,
    // not once per band — at scale this is the difference between
    // |unique pairs| and |bucket collisions| verification work.
    val candidates = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b"))
    candidates
      .join(sa, Seq("a_id")).join(sb, Seq("b_id"))
      // agreement kept in exact integer space (n of NumHashes
      // positions, kept ≥ MinAgree — shared constants with the
      // oracle); the estimate renders as a fixed 4-decimal string
      // (computed doubles are hash-fragile — Exact)
      .select(col("a_id"), col("b_id"),
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), e => e)).as("n_agree"))
      .filter(col("n_agree") >= lit(MinAgree))
      .select(col("a_id"), col("b_id"),
        Exact.dec4(Exact.halfUpDiv(col("n_agree") * 10000, lit(NumHashes)))
          .as("est_jaccard"))
      .orderBy("a_id", "b_id")
  }

  // ------------------------------------------------------- SimHash
  // 64-bit SimHash over distinct tokens; candidates blocked on 16-bit
  // sub-bands (by pigeonhole, any pair within Hamming distance 3 shares
  // at least one exact band — blocking is lossless at this radius).
  // 32 bits was tried first and collapsed on shared-vocab corpora:
  // nearly every doc pair fell within the radius (quadratic blowup).
  val SimBits = 64
  val SimBands = 4
  val MaxHamming = 3

  /** Cap on docs per (band, value) bucket. 16-bit band values are only
    * 65536-way discriminative; on a shared-vocab corpus some buckets
    * degenerate to thousands of docs and the candidate join goes
    * quadratic (measured: 86M pairs over 50k docs uncapped). Oversized
    * buckets are non-discriminative boilerplate signatures — dropping
    * them bounds candidates at ≤ MaxBucket·|band rows| with a
    * documented recall caveat for pairs whose every shared band is
    * oversized (same blocking-cap idea as MaxDf for shingles). */
  val MaxBucket = 64

  /** Scan-local 64-bit SimHash of a MATERIALIZED xxhash64 token-hash
    * array column (alias the array in its own projection first — an
    * inlined expression would re-tokenize per bit). Semantics are
    * identical to [[simhash]]'s aggregate form (spec-checked); this
    * form has no shuffle at all. Cost O(64·|tokens|) per row. */
  def simhashExpr(ths: Column, n: Column): Column =
    (0 until SimBits).map { bit =>
      val cnt = size(filter(ths,
        h => shiftright(h, bit).bitwiseAND(lit(1L)) === 1L))
      when(cnt * 2 > n, lit(1L << bit)).otherwise(0L)
    }.reduce(_ + _)

  /** Per-doc 64-bit SimHash, scan-local: the token-hash array is
    * materialized in its own projection and the signature folds over
    * it row-locally ([[simhashExpr]]) — NO shuffle at all, vs the
    * aggregate form's explode + 17-column hash-aggregate exchange
    * (measured 2× on q26; the forms are spec-proved equal). */
  def simhash(df: DataFrame, id: String, text: Column): DataFrame =
    withSimhash(df.select(col(id), text.as("__sh_txt")), col("__sh_txt"))
      .select(col(id), col("simhash"))

  /** Column-preserving SimHash: appends `simhash` to `df`. This is
    * the ONE place the signature-defining projection (distinct token
    * xxhash64 array → bit-majority fold) lives — batch dedup and the
    * specs both route through it, so their signatures can never
    * silently diverge. */
  def withSimhash(df: DataFrame, text: Column): DataFrame =
    df.withColumn("__ths",
        transform(array_distinct(split(text, "\\s+")), x => xxhash64(x)))
      .withColumn("simhash", simhashExpr(col("__ths"), size(col("__ths"))))
      .drop("__ths")

  /** The original aggregate form (explode → packed per-bit counters →
    * one exchange on the id); kept as the cross-check reference for
    * the scan-local form and as the shape notes for corpora whose
    * single documents exceed one row's compute budget. */
  def simhashAgg(df: DataFrame, id: String, text: Column): DataFrame = {
    val tok = df.select(col(id), explode(array_distinct(split(text, "\\s+")))
      .as("tok"))
      .withColumn("th", xxhash64(col("tok")))
    // per bit: count of set bits c_b plus total n; bit set iff 2c > n.
    // The 64 per-bit counters are packed 4-to-a-long in 16-bit lanes
    // (16 aggregate columns instead of 64): lanes can't carry into
    // each other below 65536 distinct tokens per doc — far beyond any
    // document — and a 4×-narrower aggregation buffer is measurably
    // cheaper in the hash-aggregate update loop.
    val lanes = 4
    val packCols = (0 until SimBits / lanes).map { g =>
      val packed = (0 until lanes).map(l =>
        expr(s"shiftleft(shiftright(th, ${g * lanes + l}) & 1, ${16 * l})"))
        .reduce(_ + _)
      sum(packed).as(s"p_$g")
    } :+ count(lit(1)).as("n")
    val sums = tok.groupBy(id).agg(packCols.head, packCols.tail: _*)
    sums.select(col(id),
      (0 until SimBits).map { bit =>
        val c = shiftright(col(s"p_${bit / lanes}"), 16 * (bit % lanes))
          .bitwiseAND(0xffffL)
        when(c * 2 > col("n"), lit(1L << bit)).otherwise(0L)
      }.reduce(_ + _).as("simhash"))
  }

  /** DuckDB replica of q26: distinct-token XXH64s (string chain, one
    * per distinct token corpus-wide, joined back), per-(doc,bit)
    * set-bit majorities, banding with the same MaxBucket window cap,
    * Hamming verify via native bit_count/xor. */
  private def q26OracleSql: String = {
    import graft.ops.DuckHash
    val tokh = DuckHash.strChain(
      "SELECT DISTINCT tok FROM (SELECT unnest(list_distinct(" +
        "regexp_split_to_array(text, '\\s+'))) AS tok FROM documents)",
      "tok", "42", out = "h")
    s"""WITH tokh AS ($tokh),
       |dt AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    regexp_split_to_array(text, '\\s+'))) AS tok
       |  FROM documents),
       |dth AS (SELECT dt.doc_id, ${DuckHash.toU("tokh.h")} AS hu
       |        FROM dt JOIN tokh USING (tok)),
       |cnts AS (
       |  SELECT doc_id, b.bit,
       |         sum(CAST((hu >> CAST(b.bit AS INTEGER)) & 1::UBIGINT
       |             AS BIGINT)) AS c,
       |         count(*) AS n
       |  FROM dth, (SELECT unnest(range($SimBits)) AS bit) b
       |  GROUP BY doc_id, b.bit),
       |sim AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN 2 * c > n THEN
       |           (1::HUGEINT << CAST(bit AS INTEGER))
       |           ELSE 0::HUGEINT END) AS HUGEINT) AS su
       |  FROM cnts GROUP BY doc_id),
       |sims AS (
       |  SELECT doc_id,
       |         ${DuckHash.toSigned("CAST(su AS UBIGINT)")}
       |           AS simhash,
       |         CAST(su AS UBIGINT) AS shu
       |  FROM sim),
       |bands AS (
       |  SELECT doc_id, simhash, b.band_idx,
       |         CAST((shu >> CAST(16 * b.band_idx AS INTEGER))
       |              & 65535::UBIGINT AS BIGINT) AS band_val
       |  FROM sims, (SELECT unnest(range($SimBands)) AS band_idx) b),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bn
       |    FROM bands) WHERE bn <= $MaxBucket),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM capped a JOIN capped b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |ham AS (
       |  SELECT a_id, b_id,
       |         bit_count(xor(sa.simhash, sb.simhash)) AS hamming
       |  FROM cand
       |  JOIN sims sa ON sa.doc_id = a_id
       |  JOIN sims sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, CAST(hamming AS INTEGER) AS hamming
       |FROM ham WHERE hamming <= $MaxHamming ORDER BY a_id, b_id"""
      .stripMargin
  }

  val qSimhash: Q = Q("q26_simhash", q26OracleSql) { (s, d) =>
    // persist: feeds the band index AND both per-pair hash lookups
    val sims = simhash(T(s, d, "documents"), "doc_id", col("text"))
      .persist()
    val bands = sims.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimBands).map(bd =>
        expr(s"shiftright(simhash, ${bd * 16}) & 65535")): _*))
        .as(Seq("band_idx", "band_val")))
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_val")))
      .filter(col("bucket_n") <= MaxBucket)
      .drop("bucket_n")
      .persist()   // feeds both sides of the band self-join
    val a = bands.as("a")
    val b = bands.as("b")
    // distinct candidate pairs first, then one Hamming check per pair
    val candidates = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val ha = sims.select(col("doc_id").as("a_id"), col("simhash").as("sh_a"))
    val hb = sims.select(col("doc_id").as("b_id"), col("simhash").as("sh_b"))
    candidates
      .join(ha, Seq("a_id")).join(hb, Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .filter(col("hamming") <= MaxHamming)
      .orderBy("a_id", "b_id")
  }

  // ------------------------------------------- end-to-end corpus dedup

  /** Pair-count ceiling for the driver union-find fast path: 100k
    * edges ≈ 1.6 MB — the same bounded-payload class as the Bloom
    * sketches, far below anything data-sized. Above it the
    * distributed fixpoint runs as before. */
  val SmallGraphEdges = 100000

  /** Round cap of the distributed fixpoint in [[clusterPairs]]: a
    * runaway backstop, not a diameter cap — pointer jumping converges
    * in rounds logarithmic in component diameter, and 2^20-diameter
    * chains don't occur in dedup graphs. */
  val MaxRounds = 20

  /** Collapse a pair list into keep/drop decisions: connected
    * components by min-label propagation iterated TO A FIXPOINT, with
    * pointer jumping (each round a doc adopts the smallest label
    * reachable over one edge, then adopts its label's label — so
    * convergence is logarithmic in component diameter, and the loop
    * stops at the first round with zero label changes, or after
    * [[MaxRounds]]).
    * Returns (doc_id, keep_id); `doc_id != keep_id` ⇒ drop as duplicate.
    *
    * Graphs of at most `smallGraphLimit` pairs resolve by driver
    * union-find over the EXPLICITLY BOUNDED edge list (≈1.6 MB at the
    * default cap — never data-sized by construction): the fixpoint
    * costs ~4 jobs a round regardless of size, which dwarfs the work
    * on the small pair sets most batches produce (measured: 67 pairs
    * took 2.1 s of pure job overhead, the fast path 0.4 s). Larger
    * graphs take the distributed loop, whose joins are all
    * key-partitioned aggregations with a one-count convergence check
    * per round. The pair plan is persisted first, so candidate
    * generation runs ONCE whichever path is taken. */
  def clusterPairs(pairs: DataFrame,
      smallGraphLimit: Int = SmallGraphEdges): DataFrame = {
    val pr = pairs.select(col("a_id"), col("b_id")).persist()
    try {
      // bounded probe over the CACHED pairs (limit k+1 never brings
      // back more than the cap + 1 rows)
      val probe = pr.limit(smallGraphLimit + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      if (probe.length <= smallGraphLimit) {
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        probe.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // min label wins, matching the fixpoint
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val nodes = probe.iterator.flatMap(p => Iterator(p._1, p._2))
          .toArray.distinct
        val spark = pairs.sparkSession
        import spark.implicits._
        return nodes.map(n => (n, find(n))).toSeq
          .toDF("doc_id", "keep_id")
      }
      clusterPairsDistributed(pr)
    } finally pr.unpersist(): Unit
  }

  /** The distributed fixpoint (see [[clusterPairs]]); `pairs` should
    * be persisted by the caller — each round re-reads the edge list. */
  private[analytics] def clusterPairsDistributed(pairs: DataFrame)
      : DataFrame = {
    // undirected edge list, both directions — ONE pass over the pair
    // plan (a union of two selects would compute the whole upstream
    // candidate-generation plan once per branch)
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    // localCheckpoint, NOT persist: every round reads the previous
    // label table three times, so the lineage grows ~3× per round and
    // the logical plan goes exponential — rendering the plan for the
    // event log alone OOMs an 8g driver after a few rounds at 50k docs
    // (measured at the ≈sf1 probe). Checkpointing materializes the
    // round and truncates the plan to a leaf, the standard move for
    // iterative dataflows.
    var labels = nodes.withColumn("keep_id", col("doc_id"))
      .localCheckpoint()
    var converged = labels.isEmpty
    var round = 0
    while (!converged && round < MaxRounds) {
      val viaEdge = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("keep_id").as("edge_min"))
      val stepped = labels.join(viaEdge, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("keep_id"), coalesce(col("edge_min"), col("keep_id")))
            .as("keep_id"),
          col("keep_id").as("prev"))   // previous label, for convergence
        .localCheckpoint()   // read twice below (self-join); lazy
                             // composition would recompute it per use
      // pointer jumping: follow one's label to ITS label — labels are
      // always node ids, so the lookup is a self-join on the label table
      val parentOf = stepped
        .select(col("doc_id").as("p_id"), col("keep_id").as("p_label"))
      val jumped = stepped
        .join(parentOf, stepped("keep_id") === parentOf("p_id"), "left")
        .select(stepped("doc_id"),
          least(stepped("keep_id"),
            coalesce(col("p_label"), stepped("keep_id"))).as("keep_id"),
          stepped("prev"))
        .localCheckpoint()
      // convergence check is a shuffle-free filter over the checkpoint
      // (prev travelled with the row — no join back to the old table)
      val changed = jumped.filter(col("keep_id") =!= col("prev")).count()
      labels = jumped.select("doc_id", "keep_id")
      converged = changed == 0
      round += 1
    }
    edges.unpersist()
    labels
  }

  /** Cluster threshold of the corpus dedup decision. Interpolated
    * into the stored-artifact staleness signatures — retuning it
    * rebuilds the artifacts instead of serving decisions computed
    * under the old threshold. */
  val DedupThreshold = 0.5

  /** Full dedup decision for a document corpus: exact duplicates (by
    * normalized-text fingerprint) plus near-duplicates (capped-shingle
    * exact Jaccard ≥ `threshold`), clustered, smallest doc_id kept. */
  def dedupCorpus(docs: DataFrame, id: String, text: Column,
      threshold: Double = DedupThreshold,
      broadcastCap: Long = BroadcastGate.MaxBytes): DataFrame = {
    val (inter, sizes, sized, releaseLists) =
      invertedPairCounts(shingleIndex(docs, id, text), id,
        broadcastCap = broadcastCap)
    val pairs = inter
      .join(sized(sizes.select(col(id).as("a_id"), col("n").as("na"))),
        Seq("a_id"))
      .join(sized(sizes.select(col(id).as("b_id"), col("n").as("nb"))),
        Seq("b_id"))
      .filter(col("n_inter") >=
        (col("na") + col("nb") - col("n_inter")) * threshold)
      .select("a_id", "b_id")
    val exactPairs = docs
      .select(col(id), md5(graft.analytics.TextOps.normalized(text))
        .as("fp"))
      .groupBy("fp").agg(min(col(id)).as("a_id"),
        collect_list(col(id)).as("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
    // clusterPairs is eager (per-round counts) and returns a
    // checkpoint leaf, so the posting-list cache is dead afterwards.
    val clustered = clusterPairs(pairs.unionByName(exactPairs))
    releaseLists()
    docs.select(col(id))
      .join(clustered, Seq(id), "left")
      .select(col(id), coalesce(col("keep_id"), col(id)).as("keep_id"))
  }

  // Shared oracle CTE: the q35 clustering decision (capped-shingle
  // Jaccard ∪ exact-fingerprint pairs, transitive closure, min label
  // per component) exposed as a `cl(doc_id, keep_id)` relation so the
  // canonical-selection oracle (q95) certifies against the SAME
  // cluster definition the engine composes on.
  private val clusterOracleCte: String =
    s"""WITH RECURSIVE tok AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |keep AS (
      |  SELECT s FROM sh GROUP BY s
      |  HAVING count(DISTINCT doc_id) <= $MaxDf),
      |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |near AS (
      |  SELECT i.a_id, i.b_id FROM inter i
      |  JOIN sizes sa ON i.a_id = sa.doc_id
      |  JOIN sizes sb ON i.b_id = sb.doc_id
      |  WHERE i.n_inter * 2 >= (sa.n + sb.n - i.n_inter)),
      |fp AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
      |  FROM documents),
      |exact AS (
      |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM fp x JOIN fp y ON x.f = y.f AND x.doc_id < y.doc_id),
      |allp AS (
      |  SELECT a_id, b_id FROM near
      |  UNION SELECT a_id, b_id FROM exact),
      |edges AS (
      |  SELECT a_id AS a, b_id AS b FROM allp
      |  UNION SELECT b_id, a_id FROM allp),
      |r(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a),
      |cl AS (
      |  SELECT d.doc_id,
      |    least(d.doc_id, coalesce(c.mn, d.doc_id)) AS keep_id
      |  FROM documents d LEFT JOIN comp c USING (doc_id))""".stripMargin

  // Composed end-to-end dedup decision over the documents table.
  // Oracle: the SAME capped-shingle Jaccard pair set q24's oracle
  // builds (df-cap ≡ HAVING count ≤ MaxDf; threshold 0.5 mirrored in
  // exact integers as 2·n_inter ≥ union), unioned with the exact-dup
  // pairs (q19's normalized-md5 fingerprint), closed transitively by a
  // recursive CTE (fine at oracle scale — the ENGINE's fixpoint /
  // union-find is the 100 TB path), min label per component.
  val qDedupCorpus: Q = Q(
    "q35_dedup_corpus",
    s"""$clusterOracleCte
      |SELECT doc_id, keep_id FROM cl ORDER BY doc_id""".stripMargin) {
    (s, d) =>
      // served from the corpus-keyed stored decision (built on first
      // touch, staleness-keyed): deterministic, so artifact ≡ the
      // in-memory dedupCorpus chain (spec-pinned) and the oracle
      // replays the full clustering either way
      clusterDecisionStored(s, d, T(s, d, "documents"))
        .orderBy("doc_id")
  }.copy(sideEffecting = true)

  // ------------------------------------ canonical selection per cluster
  // The post-dedup "keep the best copy" curation step (cf. CCNet /
  // RefinedWeb corpus pipelines): collapse each q35 dup cluster to one
  // row naming its canonical document — the member with the most words,
  // ties broken to the smallest doc_id so re-runs are deterministic.
  // Scale shape: the cluster decision is q35's banded path; selection
  // itself is two hash-aggregations and a cluster-keyed join over
  // cluster-sized data — no all-pairs, one shuffle family on keep_id.
  // The argmax is two-phase (per-cluster max, then min id among the
  // maxima) because a single-pass max_by has no deterministic tie-break
  // in either engine.
  /** The selection over an already-computed cluster decision
    * (doc_id → keep_id): consumers of the STORED decision
    * ([[clusterDecisionStored]]) re-run only this cheap part per
    * query. */
  private[graft] def canonicalSelection(decision: DataFrame,
      docs: DataFrame): DataFrame = {
    val g = decision
      .join(docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_words")),
        Seq("doc_id"))
    val b = g.groupBy("keep_id")
      .agg(count(lit(1)).as("n_docs"), max("n_words").as("best_n_words"))
    val canon = g.join(b.select("keep_id", "best_n_words"), Seq("keep_id"))
      .filter(col("n_words") === col("best_n_words"))
      .groupBy("keep_id").agg(min("doc_id").as("canonical_id"))
    b.join(canon, Seq("keep_id"))
      .select("keep_id", "canonical_id", "n_docs", "best_n_words")
  }

  val qClusterCanonical: Q = Q(
    "q95_cluster_canonical",
    s"""$clusterOracleCte,
      |g AS (
      |  SELECT cl.keep_id, cl.doc_id,
      |    CAST(len(regexp_split_to_array(d.text, '\\s+')) AS BIGINT)
      |      AS n_words
      |  FROM cl JOIN documents d USING (doc_id)),
      |b AS (
      |  SELECT keep_id, CAST(count(*) AS BIGINT) AS n_docs,
      |    max(n_words) AS best_n_words
      |  FROM g GROUP BY keep_id),
      |canon AS (
      |  SELECT g.keep_id, min(g.doc_id) AS canonical_id
      |  FROM g JOIN b USING (keep_id)
      |  WHERE g.n_words = b.best_n_words GROUP BY g.keep_id)
      |SELECT b.keep_id, canon.canonical_id, b.n_docs, b.best_n_words
      |FROM b JOIN canon USING (keep_id) ORDER BY keep_id""".stripMargin) {
    (s, d) =>
      // only the cluster-sized selection runs per query; the global
      // clustering comes from the stored decision (q35's artifact)
      val docs = T(s, d, "documents")
      canonicalSelection(clusterDecisionStored(s, d, docs), docs)
        .orderBy("keep_id")
  }.copy(sideEffecting = true)

  // -------------------------------------- edit-distance verification
  // Character-level near-dup verification (complement of the
  // token-level Jaccard/MinHash paths): block on the 5-token prefix
  // fingerprint (the q19 key), drop degenerate blocks past
  // EditMaxBlock (the MaxDf/MaxBucket discipline — a pathological
  // common prefix would otherwise go quadratic), then verify candidate
  // pairs by Levenshtein distance over a normalized 80-char prefix.
  // levenshtein is codegen'd in Spark and unit-cost in both engines,
  // so the distances hash-match exactly; the prefix cap bounds the
  // O(len²) DP per pair.
  val EditDistMax = 20
  val EditPrefix = 80
  val EditMaxBlock = 64

  val qEditDistance: Q = Q(
    "q65_edit_distance",
    s"""WITH fp AS (
      |  SELECT doc_id,
      |    md5(array_to_string(regexp_split_to_array(text, '\\s+')[1:5],
      |      ' ')) AS fp5,
      |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      |  FROM documents),
      |ok AS (SELECT fp5 FROM fp GROUP BY 1
      |  HAVING count(*) <= $EditMaxBlock),
      |fpb AS (SELECT f.* FROM fp f JOIN ok USING (fp5))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(substr(a.norm, 1, $EditPrefix),
      |    substr(b.norm, 1, $EditPrefix)) AS INTEGER) AS edist
      |FROM fpb a JOIN fpb b ON a.fp5 = b.fp5 AND a.doc_id < b.doc_id
      |WHERE levenshtein(substr(a.norm, 1, $EditPrefix),
      |  substr(b.norm, 1, $EditPrefix)) <= $EditDistMax
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // Exchange the raw rows on the doc key BELOW the fingerprint
    // projection (guide §2.5, the q30/q100 pattern): `fp` has THREE
    // consumers (the block-size gate and both join sides), so the
    // serial one-task tokenize+normalize otherwise runs three times;
    // the one raw exchange is computed once, reused by all three, and
    // the projection runs post-shuffle at full width. Measured
    // (targeted min-of-5 A/B pair): 0.94 → 0.61 s, with the unchanged
    // q97 control moving 0.95 → 0.81 in the same windows — ≈ −23%
    // beyond window drift.
    val fp = T(s, d, "documents")
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        md5(array_join(slice(TextOps.tokens(col("text")), 1, 5), " "))
          .as("fp5"),
        substring(TextOps.normalized(col("text")), 1, EditPrefix)
          .as("norm"))
    val ok = fp.groupBy("fp5").agg(count(lit(1)).as("n"))
      .filter(col("n") <= EditMaxBlock).select("fp5")
    val fpb = fp.join(ok, "fp5")
    val a = fpb.select(col("fp5"), col("doc_id").as("id_a"),
      col("norm").as("norm_a"))
    val b = fpb.select(col("fp5"), col("doc_id").as("id_b"),
      col("norm").as("norm_b"))
    a.join(b, Seq("fp5"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("norm_a"), col("norm_b")).as("edist"))
      .filter(col("edist") <= EditDistMax)
      .orderBy("id_a", "id_b")
  }

  // ------------------------------- prefix-filtered similarity join
  /** EXACT set-similarity join via prefix filtering (Bayardo/Ma/
    * Srikant WWW'07 "Scaling Up All Pairs Similarity Search"; Xiao et
    * al.'s PPJoin family): all pairs with shingle Jaccard ≥ τ, with
    * NO recall caveat — unlike the df-capped q24 (stop-shingles
    * dropped) and the banded q25/q26 (probabilistic), the prefix
    * filter is LOSSLESS. Shingles get a global canonical order
    * (rarity-first: ascending document frequency, ties on the shingle
    * text); each doc indexes only its first `n − ⌈τ·n⌉ + 1` shingles
    * in that order. Any pair with J ≥ τ has overlap ≥ ⌈τ·max(na,nb)⌉,
    * and the globally-smallest common shingle provably lands in BOTH
    * prefixes, so candidate generation over the prefix index alone is
    * complete; candidates then pass a size-ratio filter
    * (τ·max ≤ min) and an exact full-index intersection count.
    * Everything stays in exact integer space (τ = num/den).
    *
    * Scale shape: the prefix index is a (1−τ)-fraction of the full
    * index, ordered so the RAREST shingles carry the candidate join —
    * hot shingles are systematically pushed out of prefixes, the
    * opposite of the uncapped self-join's failure mode. Candidate
    * volume is bounded by per-prefix-shingle df² (rare by
    * construction) plus the true output; mega-dup clusters cost
    * O(cluster²) because their OUTPUT is O(cluster²) — run
    * canonical-first dedup (q95) upstream when that is not wanted.
    * One shuffle each for df, rank, candidates, and the verify join;
    * per-doc sizes broadcast. */
  def prefixSimJoin(docs: DataFrame, tauNum: Int = 3, tauDen: Int = 5)
      : DataFrame =
    prefixSimJoinReleasable(docs, tauNum, tauDen)._1

  /** [[prefixSimJoin]] plus a release hook for the internal shingle
    * cache — the [[invertedPairCounts]]/[[invertedSimJoinReleasable]]
    * contract: eager composers call it once the result is consumed;
    * lazy query entries leave it to the harness-level cache clear.
    * `broadcastCap` caps the verify-array broadcast (specs force it
    * both ways; both plans are the same pair set). */
  private[analytics] def prefixSimJoinReleasable(docs: DataFrame,
      tauNum: Int = 3, tauDen: Int = 5,
      broadcastCap: Long = BroadcastGate.MaxBytes)
      : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    // full distinct shingle index: feeds df, ranking, and BOTH verify
    // sides — tokenized once. Shingles shuffle as 8-byte xxhash64
    // longs (the q100 width discipline: raw shingle strings never
    // leave the scan; df/candidates/intersections group the same
    // equality relation modulo an in-corpus 64-bit collision, and the
    // canonical order just needs SOME global total order — (df, hash)
    // is one)
    val sh = shingleIndex(docs, "doc_id", col("text"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
      .persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfs = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfs, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .join(sizes, "doc_id")
    // prefix length n − ⌈τn⌉ + 1, all-integer ceil
    val ceilTauN =
      Exact.floorDiv(col("n") * tauNum + (tauDen - 1), lit(tauDen))
    val pref = ranked.filter(col("rk") <= col("n") - ceilTauN + 1)
    val a = pref.select(col("doc_id").as("a_id"), col("s"), col("df"),
      col("n").as("na"), col("rk").as("rka"))
    val b = pref.select(col("doc_id").as("b_id"), col("s"),
      col("n").as("nb"), col("rk").as("rkb"))
    // positional filter (PPJoin): the globally-smallest common shingle
    // s* has minimal canonical order in BOTH docs, so total overlap
    // ≤ 1 + min(na − rk_a(s*), nb − rk_b(s*)); pairs whose bound can't
    // reach the required overlap ⌈τ·max(na,nb)⌉ die BEFORE the verify
    // join (on a shared-vocabulary corpus this is the difference
    // between output-bound and df²-bound candidate volume)
    val coll = a.join(b, "s")
      .filter(col("a_id") < col("b_id") &&
        // size-ratio filter: J ≥ τ forces τ·max(na,nb) ≤ min(na,nb)
        greatest(col("na"), col("nb")) * tauNum <=
          least(col("na"), col("nb")) * tauDen)
    val cand = coll
      .groupBy("a_id", "b_id")
      .agg(min(struct(col("df"), col("s"), col("rka"), col("rkb")))
          .as("m"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter(lit(1) +
        least(col("na") - col("m.rka"), col("nb") - col("m.rkb")) >=
        Exact.floorDiv(
          greatest(col("na"), col("nb")) * tauNum + (tauDen - 1),
          lit(tauDen)))
      .select("a_id", "b_id")
    // verify scan-locally: each doc's shingle set travels ONCE as an
    // array (8 B/shingle), candidates look both sides up and count the
    // intersection with a codegen'd array op — the alternative (join
    // candidates back onto the exploded index) shuffles
    // |candidates|·|doc| rows, which on shared-vocabulary corpora is
    // ~100× the output. The array side broadcasts while it fits
    // (size-gated, the NearDupIndex discipline); past the gate the two
    // lookups fall back to shuffle joins — still O(candidates) rows.
    val docArrs = sh.groupBy("doc_id")
      .agg(collect_list(col("s")).as("arr"))
    // gate on the ACTUAL volume that would broadcast — the persisted
    // shingle index's entry count (8 B each), not the document count:
    // a sub-200k-doc corpus of very long documents would blow past the
    // budget a doc-count gate assumes, and sh is already cached so
    // this count is a cache scan, not a second pass over the table
    val gate = BroadcastGate(sh.count(), ArrEntryBytes, broadcastCap)
    def side(as: String) = gate(
      docArrs.select(col("doc_id").as(as + "_id"), col("arr").as(as)))
    val nInter = size(array_intersect(col("a"), col("b"))).cast("long")
    val na = size(col("a")).cast("long")
    val nb = size(col("b")).cast("long")
    val out = cand.join(side("a"), "a_id").join(side("b"), "b_id")
      .select(col("a_id"), col("b_id"), nInter.as("n_inter"),
        (na + nb - nInter).as("n_union"))
      .filter(col("n_inter") * tauDen >= col("n_union") * tauNum)
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"),
        Exact.dec4(Exact.halfUpDiv(col("n_inter") * 10000,
          col("n_union"))).as("jaccard"))
    (out, () => { sh.unpersist(); () })
  }

  /** Broadcast bytes per distinct (doc, shingle) entry of the q107
    * verify arrays (doc_id, arr): 8 B of array payload per entry, and
    * at worst one entry per doc, whose id slot, array slot and header
    * and null bitset it then carries alone. Past the budget the two
    * candidate lookups run as shuffle joins instead. Gated on the
    * persisted index itself, so long-document corpora hit the gate by
    * volume, not by row count. */
  val ArrEntryBytes: Long = 8L * 2 + 8 + (8 + 8)

  val qPrefixSimJoin: Q = Q(
    "q107_prefix_simjoin",
    // the oracle is the UNFILTERED exact pair join — completeness of
    // the prefix scheme is exactly what the hash compare certifies
    s"""WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(count(*) AS BIGINT) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.a_id, p.b_id, p.n_inter,
      |  CAST(sa.n + sb.n - p.n_inter AS BIGINT) AS n_union,
      |  ${Exact.dec4Sql(Exact.halfUpDivSql("p.n_inter*10000",
           "sa.n + sb.n - p.n_inter"))} AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON p.a_id = sa.doc_id
      |JOIN sizes sb ON p.b_id = sb.doc_id
      |WHERE p.n_inter * 5 >= (sa.n + sb.n - p.n_inter) * 3
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    prefixSimJoin(T(s, d, "documents")).orderBy("a_id", "b_id")
  }

  // ----------------------- canonical-first similarity composition
  // q109's tiering: collapse every dup cluster to its canonical
  // representative (q95) FIRST, then run the exact similarity join on
  // representatives only. q107 alone is exact-and-complete but
  // O(cluster²) in its OUTPUT on dup-heavy corpora (a 1000-copy
  // cluster emits ~500k pairs a dedup pass already said); on the rep
  // tier the join output is linear in the POST-dedup pair count.
  // q109's τ = 1/20 sits well below the clustering threshold (0.5) on
  // purpose: pairs above it already collapsed into one representative,
  // so the relation left on the rep tier is related-but-distinct
  // content (diversity sampling, template/boilerplate discovery).

  /** The FULL cluster decision (doc_id → keep_id, q35's output) as a
    * store-versioned artifact: production dedup runs once per corpus
    * snapshot and every downstream tier (canonical selection, rep-tier
    * joins, filtering) consumes the STORED decision instead of
    * re-clustering — the q91/q113 artifact discipline applied to
    * dedup. Staleness-keyed by corpus content fingerprint (count +
    * XOR of row hashes — order-insensitive, overflow-free under ANSI)
    * plus the clustering hyperparameters, so a constants bump
    * re-clusters instead of serving a stale decision. q35 serves this
    * relation directly, q95 runs only the (cheap, cluster-sized)
    * canonical selection over it, and q109's rep tier derives from
    * the same single decision — one LSH/verify/fixpoint pass per
    * corpus snapshot feeds all three, which is also the 100 TB shape:
    * the expensive global clustering is a once-per-snapshot job, not
    * a per-query one. Deterministic, so artifact ≡ the in-memory
    * chain (spec-pinned); every consumer's oracle replays the full
    * chain regardless. */
  // sigs interpolate the REAL constants (MaxDf, DedupThreshold) —
  // a threshold retune must move the signature, never hand-edited
  // literals (the coarseSig discipline)
  private def decisionSig(fp: String): String =
    s"$fp|cluster,df=$MaxDf,t=$DedupThreshold,n=$ShingleN"

  /** Corpus content fingerprint over (doc_id, text) — the shared
    * [[graft.io.ArtifactStore.contentFp]] formula, which every
    * documents-derived artifact family must agree on. CONTRACT: `docs`
    * is the FULL documents table of dir `d` (every caller's shape) —
    * the fingerprint memoizes per source listing
    * ([[graft.io.ArtifactStore.bySource]]), so a filtered frame would
    * poison the shared entry. */
  private[analytics] def docsFp(d: String, docs: DataFrame): String =
    graft.io.ArtifactStore.bySource(d, "documents", "fp")(
      graft.io.ArtifactStore.contentFp(docs, col("doc_id"), col("text")))

  private[analytics] def clusterDecisionStored(s: SparkSession,
      d: String, docs: DataFrame): DataFrame =
    clusterDecisionFor(s, graft.io.ArtifactStore.forDir("cluster", d),
      docs, docsFp(d, docs))

  /** [[clusterDecisionStored]] with the store and fingerprint already
    * in hand — lets derived-artifact builders (canon_reps) reuse ONE
    * corpus scan for both staleness probes. */
  private def clusterDecisionFor(s: SparkSession,
      store: graft.io.ModelStore, docs: DataFrame, fp: String)
      : DataFrame = {
    graft.io.ArtifactStore.stored(s, store, "cluster", "decision",
      decisionSig(fp),
      "dedup cluster decision (doc_id -> keep_id)") {
      dedupCorpus(docs, "doc_id", col("text"), DedupThreshold)
    }
  }

  /** Canonical representative ids as a second (tiny, derived)
    * artifact over the stored cluster decision: q109's rep tier is
    * consumed every run, and re-running even the cheap canonical
    * selection per query measurably out-costs one ~|clusters|-row
    * read — so the selection too runs once per corpus snapshot.
    * Built FROM [[clusterDecisionStored]] (never re-clusters),
    * staleness-keyed by the same corpus fingerprint. */
  private def repsSig(fp: String): String =
    s"$fp|canon,df=$MaxDf,t=$DedupThreshold,n=$ShingleN"
  private[analytics] def canonicalRepsStored(s: SparkSession,
      d: String, docs: DataFrame): DataFrame = {
    val store = graft.io.ArtifactStore.forDir("cluster", d)
    val fp = docsFp(d, docs) // ONE corpus scan keys both artifacts
    graft.io.ArtifactStore.stored(s, store, "cluster", "canon_reps",
      repsSig(fp), "canonical representatives (derived from the " +
        "stored cluster decision)") {
      canonicalSelection(clusterDecisionFor(s, store, docs, fp), docs)
        .select(col("canonical_id"))
    }
  }

  /** The df-capped shingle posting lists as a corpus-keyed stored
    * artifact — the [[clusterDecisionStored]] discipline one tier
    * down: the n-gram pair family (q24 Jaccard, q98 containment)
    * shares one tokenize→shingle→bounded-set pass per corpus
    * snapshot; per query only the pair explosion/aggregation runs.
    * Raw-string shingle grouping (the oracle's own equality), sorted
    * doc-id arrays; staleness-keyed like every documents artifact. */
  private def listsSig(fp: String): String =
    s"$fp|lists,df=$MaxDf,n=$ShingleN"

  /** Returns the stored lists PLUS the gated sizes-broadcast wrapper
    * for their consumers: the entry volume rides in the build-time
    * `entries` meta stamp (an O(1) read, staleness-fresh by
    * construction — the artifact rebuilds whenever the corpus does),
    * with a one-scan fallback for pre-stamp stores. */
  private[analytics] def postingListsStored(s: SparkSession,
      d: String, docs: DataFrame): (DataFrame, DataFrame => DataFrame) = {
    val store = graft.io.ArtifactStore.forDir("cluster", d)
    val fp = docsFp(d, docs)
    graft.io.ArtifactStore.ensure(s, store, "cluster", "postings",
      listsSig(fp)) {
      // persist: consumed by the entries count AND the write
      val lists = postingLists(
        shingleIndex(docs, "doc_id", col("text")), "doc_id").persist()
      try store.write(lists, "cluster", "postings",
        description = "df-capped shingle posting lists",
        meta = graft.io.ArtifactStore.stamp(listsSig(fp)) +
          ("entries" -> entriesOf(lists).toString))
      finally { lists.unpersist(); () }
    }
    val lists = store.read(s, "cluster", "postings").get
    (lists, BroadcastGate(
      store.meta(s, "cluster", "postings", "entries").map(_.toLong)
        .getOrElse(entriesOf(lists)), SizesRowBytes))
  }

  /** Exact τ-similarity join via the plain inverted index — the right
    * plan when τ is LOW. Same output contract as [[prefixSimJoin]];
    * candidate volume is Σ df(s)² over distinct shingles (inherent to
    * ANY lossless low-τ join — the output itself approaches that
    * bound), so run it on a deduped/rep tier, not a raw corpus. */
  def invertedSimJoin(docs: DataFrame, tauNum: Int, tauDen: Int,
      broadcastCap: Long = BroadcastGate.MaxBytes): DataFrame =
    invertedSimJoinReleasable(docs, tauNum, tauDen, broadcastCap)._1

  /** [[invertedSimJoin]] plus a release hook for the internal shingle
    * cache — the [[invertedPairCounts]] contract: eager composers call
    * it once the result is consumed; lazy query entries leave it to
    * the harness-level cache clear. `broadcastCap` caps the per-doc
    * sizes broadcast (specs force it both ways; both plans are the
    * same pair set). */
  private[analytics] def invertedSimJoinReleasable(docs: DataFrame,
      tauNum: Int, tauDen: Int,
      broadcastCap: Long = BroadcastGate.MaxBytes)
      : (DataFrame, () => Unit) = {
    // persisted: feeds BOTH self-join sides, the sizes aggregate, and
    // the gate count — without it the window-heavy shingleIndex
    // computes four times
    val sh = shingleIndex(docs, "doc_id", col("text"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
      .persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // sizes broadcast gate (SizesRowBytes): measure the persisted
    // index (entries ≥ docs, already cached, so the count is a cache
    // scan) against the same budget the verify arrays use.
    val sized = BroadcastGate(sh.count(), SizesRowBytes, broadcastCap)
    val inter = sh.select(col("doc_id").as("a_id"), col("s"))
      .join(sh.select(col("doc_id").as("b_id"), col("s")), "s")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
    val nInter = col("n_inter")
    val out = inter
      .join(sized(sizes.select(col("doc_id").as("a_id"),
        col("n").as("na"))), Seq("a_id"))
      .join(sized(sizes.select(col("doc_id").as("b_id"),
        col("n").as("nb"))), Seq("b_id"))
      .select(col("a_id"), col("b_id"), nInter,
        (col("na") + col("nb") - nInter).as("n_union"))
      .filter(col("n_inter") * tauDen >= col("n_union") * tauNum)
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"),
        Exact.dec4(Exact.halfUpDiv(col("n_inter") * 10000,
          col("n_union"))).as("jaccard"))
    (out, () => { sh.unpersist(); () })
  }

  val qCanonicalSimJoin: Q = Q(
    "q109_canon_simjoin",
    // oracle = q95's canonical selection composed with q107's
    // UNFILTERED exact pair join restricted to the representatives —
    // both halves certify against the same cluster/pair definitions
    // their own oracles use, so the composition's hash match certifies
    // the tiering loses exactly the within-cluster pairs and nothing
    // else
    s"""$clusterOracleCte,
      |g AS (
      |  SELECT cl.keep_id, cl.doc_id,
      |    CAST(len(regexp_split_to_array(d.text, '\\s+')) AS BIGINT)
      |      AS n_words
      |  FROM cl JOIN documents d USING (doc_id)),
      |bb AS (
      |  SELECT keep_id, max(n_words) AS best_n_words
      |  FROM g GROUP BY keep_id),
      |reps AS (
      |  SELECT min(g.doc_id) AS doc_id
      |  FROM g JOIN bb USING (keep_id)
      |  WHERE g.n_words = bb.best_n_words GROUP BY g.keep_id),
      |rsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN reps USING (doc_id)),
      |rsizes AS (SELECT doc_id, count(*) AS n FROM rsh GROUP BY doc_id),
      |rpairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(count(*) AS BIGINT) AS n_inter
      |  FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.a_id, p.b_id, p.n_inter,
      |  CAST(sa.n + sb.n - p.n_inter AS BIGINT) AS n_union,
      |  ${Exact.dec4Sql(Exact.halfUpDivSql("p.n_inter*10000",
           "sa.n + sb.n - p.n_inter"))} AS jaccard
      |FROM rpairs p
      |JOIN rsizes sa ON p.a_id = sa.doc_id
      |JOIN rsizes sb ON p.b_id = sb.doc_id
      |WHERE p.n_inter * 20 >= (sa.n + sb.n - p.n_inter) * 1
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    // the rep set comes from the persisted cluster-decision artifact
    // (built on first touch, staleness-keyed) — the production shape:
    // dedup decides once per corpus snapshot, the rep-tier join
    // consumes the stored decision. Deterministic, so artifact ≡ the
    // in-memory composition (spec-pinned); the oracle replays the full
    // chain either way.
    // At τ = 1/20 prefix filtering prunes too little to pay for its
    // ranking and candidate machinery, so the plain inverted-index join
    // (the oracle's own shape) runs: measured 9.4 s → 6.3 s end to end
    // at sf0.1 against the prefix plan. Both plans are lossless.
    val docs = T(s, d, "documents")
    val reps = canonicalRepsStored(s, d, docs)
      .select(col("canonical_id").as("doc_id"))
    invertedSimJoin(docs.join(reps, "doc_id"), 1, 20)
      .orderBy("a_id", "b_id")
  }.copy(sideEffecting = true)

  val all: Seq[Q] =
    Seq(qNgramJaccard, qContainment, qMinhashLsh, qSimhash, qDedupCorpus,
      qClusterCanonical, qEditDistance, qPrefixSimJoin, qCanonicalSimJoin)
}
