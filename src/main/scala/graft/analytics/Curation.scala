package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.io.Tables
import graft.ops.Exact
import graft.queries.Q

/** Corpus-curation operators for training-data pipelines: deterministic
  * hash sampling (stratified rates + a stable holdout split), corpus
  * vocabulary building with per-document OOV scoring, and group-wise
  * top-k selection. All shapes are scan-local or single-shuffle and the
  * sampling keys are content-independent hashes, so re-running the
  * pipeline over a grown corpus keeps every previously-sampled id.
  */
object Curation {

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // -------------------------------------------- deterministic sampling
  // md5-of-id hex compared against a hex-prefix threshold: '4' keeps
  // ids whose hash starts 0..3 (= 4/16 = 25%), 'c' keeps 75%. The split
  // is a pure function of the id — stable across runs, machines, and
  // engines — and the salted holdout key is independent of the sampling
  // key, so holdout membership doesn't correlate with sample membership.
  val EnRate = "4" // 25% of English docs
  val RestRate = "c" // 75% of everything else
  val HoldoutRate = "1" // ~6.25% stable holdout

  /** Deterministic uniform-hash sample key for an id column. */
  def sampleKey(id: org.apache.spark.sql.Column, salt: String = "")
      : org.apache.spark.sql.Column =
    if (salt.isEmpty) md5(id.cast("string"))
    else md5(concat(lit(salt), id.cast("string")))

  val qHashSample: Q = Q(
    "q44_hash_sample",
    s"""SELECT doc_id, lang, source,
      |  md5(CAST(doc_id AS VARCHAR)) AS sample_key,
      |  md5('holdout-' || CAST(doc_id AS VARCHAR)) < '$HoldoutRate'
      |    AS is_holdout
      |FROM documents
      |WHERE md5(CAST(doc_id AS VARCHAR)) <
      |  (CASE WHEN lang = 'en' THEN '$EnRate' ELSE '$RestRate' END)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val key = sampleKey(col("doc_id"))
    T(s, d, "documents")
      .filter(key < when(col("lang") === "en", EnRate).otherwise(RestRate))
      .select(col("doc_id"), col("lang"), col("source"),
        key.as("sample_key"),
        (sampleKey(col("doc_id"), "holdout-") < HoldoutRate)
          .as("is_holdout"))
      .orderBy("doc_id")
  }

  // ------------------------------------- vocabulary build + OOV score
  // Two-phase: (1) corpus term frequencies — one shuffle on token, then
  // a bounded global top-N (TakeOrdered: only N rows ever reach the
  // driver); (2) per-doc scoring — explode + BROADCAST join against the
  // tiny vocab + one agg shuffle on doc_id. The rare-token (OOV) ratio
  // is the classic noisy-document signal. Vocab cut is 16 because the
  // synthetic corpus has only 31 distinct tokens; production would use
  // 10^5-ish — the plan shape is identical.
  val VocabSize = 16

  /** Corpus top-N vocabulary by term frequency (ties broken by token
    * text so the cut is deterministic). */
  def vocabulary(toks: DataFrame, n: Int): DataFrame =
    toks.groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(n)
      .select("tok")

  val qVocabOov: Q = Q(
    "q45_vocab_oov",
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS tf FROM toks GROUP BY tok
      |    ORDER BY tf DESC, tok LIMIT $VocabSize) v),
      |j AS (
      |  SELECT t.doc_id,
      |    CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS iv
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(iv) AS BIGINT) AS n_in_vocab,
      |  ${Exact.dec4Sql(Exact.halfUpDivSql(
           "(count(*) - sum(iv))*10000", "count(*)"))} AS oov_ratio
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = T(s, d, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val vocab = vocabulary(toks, VocabSize).withColumn("iv", lit(1L))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("iv"), lit(0L))).as("n_in_vocab"))
      .select(col("doc_id"), col("n_tokens"), col("n_in_vocab"),
        Exact.dec4(Exact.halfUpDiv(
          (col("n_tokens") - col("n_in_vocab")) * 10000,
          col("n_tokens"))).as("oov_ratio"))
      .orderBy("doc_id")
  }

  // --------------------------------------------- group-wise top-k
  // Top-k documents per language by length — the "select best docs per
  // stratum" curation step, on the bounded TopKAgg (map-side partial
  // top-k, ≤ k rows per group per partition shuffled) rather than a
  // window sort of whole partitions. n_chars fits a double exactly
  // (< 2^53) so the score round-trips through ScoredId losslessly.
  val GroupTopK = 3

  val qTopKPerGroup: Q = Q(
    "q46_topk_per_group",
    s"""SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= $GroupTopK ORDER BY lang, rk""".stripMargin) { (s, d) =>
    val topk = udaf(new graft.functions.TopKAgg(GroupTopK))
    T(s, d, "documents")
      .groupBy("lang")
      .agg(topk(col("n_chars").cast("double"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast(IntegerType).as("rk"),
        col("s.id").as("doc_id"), col("s.score").cast("long").as("n_chars"))
      .orderBy("lang", "rk")
  }

  // ------------------------------------------------ TF-IDF keywords
  // Per-document top-k characteristic terms. All scoring stays in
  // exact integer space (idf ≈ N/df scaled by 1e4, score = tf·idf) so
  // the oracle hashes identically — the float-log idf variant changes
  // only the literal, not the plan. Shapes: tf = one (doc, term)
  // shuffle; df = one term shuffle; score join is on term (df table is
  // |vocab|-sized — broadcastable in practice, and AQE picks that at
  // runtime); per-doc ranking partitions by doc_id, whose group size
  // is bounded by document length — the one top-k case where a window
  // is fine at any corpus size (groups never exceed a doc's tokens).
  val KeywordsPerDoc = 3

  val qTfidfKeywords: Q = Q(
    "q49_tfidf_keywords",
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
      |  GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf * ((n.n_docs * 10000) // df.df) AS BIGINT) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, term) AS rk FROM scored) t
      |WHERE rk <= $KeywordsPerDoc ORDER BY doc_id, rk""".stripMargin) {
    (s, d) =>
      // Exchange the raw rows on the doc key BELOW the tokenize
      // projection (guide §2.5, the q30/q100 pattern): `toks` feeds
      // both the per-doc TF groupBy and the DF groupBy, so the serial
      // one-task tokenize otherwise runs twice; the raw exchange
      // computes once, both consumers read it at full width.
      // Measured (targeted min-of-5 A/B pair): 0.77 → 0.59 s, q97
      // control 0.95 → 0.81 in the same windows (≈ −10% beyond
      // drift).
      val toks = T(s, d, "documents")
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("term")
        .agg(countDistinct("doc_id").as("df"))
      val nDocs = T(s, d, "documents").groupBy()
        .agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf") * Exact.floorDiv(col("n_docs") * 10000, col("df")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= KeywordsPerDoc)
        .select(col("doc_id"), col("rk").cast(IntegerType).as("rk"),
          col("term"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rk")
  }

  // --------------------------------------------- mixture / epoch plan
  // Deterministic data-mixing: each source tier gets an integer repeat
  // count plus a hash-gated fractional repeat (tier weights 3.5×, 2×,
  // 0.75× here), materialized as one output row per (doc, repeat) with
  // a stable shuffle key — the "compose one training epoch from
  // weighted sources" op. Zero-repeat docs drop out (downsampling).
  // Pure scan-local explode: no shuffle at all until a consumer
  // repartitions by the shuffle key.
  val UpSources: Seq[String] = Seq("src0", "src1", "src2")
  val MidSources: Seq[String] = (3 to 9).map(i => s"src$i")

  val qMixtureEpoch: Q = {
    val upList = UpSources.map(s => s"'$s'").mkString(", ")
    val midList = MidSources.map(s => s"'$s'").mkString(", ")
    Q("q50_mixture_epoch",
      s"""WITH w AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IN ($upList) THEN 3
        |         WHEN source IN ($midList) THEN 2 ELSE 0 END
        |      + CASE WHEN md5('mix-' || CAST(doc_id AS VARCHAR)) <
        |          (CASE WHEN source IN ($upList) THEN '8'
        |                WHEN source IN ($midList) THEN '0'
        |                ELSE 'c' END) THEN 1 ELSE 0 END AS n_rep
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(unnest(range(1, n_rep + 1)) AS BIGINT) AS rep,
        |  md5('ord-' || CAST(doc_id AS VARCHAR) || '-' ||
        |    CAST(unnest(range(1, n_rep + 1)) AS VARCHAR)) AS shuffle_key
        |FROM w ORDER BY doc_id, rep""".stripMargin) { (s, d) =>
      val base = when(col("source").isInCollection(UpSources), 3L)
        .when(col("source").isInCollection(MidSources), 2L).otherwise(0L)
      val frTh = when(col("source").isInCollection(UpSources), "8")
        .when(col("source").isInCollection(MidSources), "0").otherwise("c")
      val nRep = base +
        when(sampleKey(col("doc_id"), "mix-") < frTh, 1L).otherwise(0L)
      T(s, d, "documents")
        .select(col("doc_id"), col("source"),
          // sequence(1, 0) counts DOWN in Spark — guard the empty case
          explode(when(nRep >= 1, sequence(lit(1L), nRep))
            .otherwise(array().cast("array<bigint>"))).as("rep"))
        .withColumn("shuffle_key",
          md5(concat(lit("ord-"), col("doc_id").cast("string"), lit("-"),
            col("rep").cast("string"))))
        .orderBy("doc_id", "rep")
    }
  }

  // ------------------------------------------- heavy hitters (sketch)
  // Per-language frequent leading characters via the Misra–Gries
  // sketch (k counters per group, bounded state at ANY cardinality),
  // then the candidates-then-recount pattern: the sketch's guarantee —
  // every item with true frequency > n/(k+1) survives, whatever the
  // merge order — makes the RECOUNTED-and-thresholded output
  // deterministic, and therefore oracle-checkable even though raw
  // sketch counts are merge-order dependent.
  val HeavyK = 6

  val qHeavyHitters: Q = {
    val oChars = s"""SELECT lang,
      | substr(unnest(regexp_split_to_array(text, '\\s+')), 1, 1) AS ch
      |FROM documents""".stripMargin
    Q("q60_heavy_hitters",
      s"""WITH chars AS ($oChars),
        |c AS (SELECT lang, ch, count(*) AS n FROM chars GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM c
        |  GROUP BY 1)
        |SELECT c.lang, c.ch, CAST(c.n AS BIGINT) AS n, t.total
        |FROM c JOIN t USING (lang)
        |WHERE c.n * ${HeavyK + 1} > t.total
        |ORDER BY lang, ch""".stripMargin) { (s, d) =>
      val mg = udaf(new graft.functions.MisraGries(HeavyK))
      // A doc_id exchange below the tokenize (the q30/q100 pattern)
      // was A/B'd here and measured WORSE (0.84 → 0.96 s targeted
      // min-of-3): both consumers partial-aggregate to ≤k+1 rows per
      // task anyway, so the serial tokenize is cheaper than shipping
      // the raw text through an exchange twice-consumed. Kept serial.
      val chars = T(s, d, "documents")
        .select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .select(col("lang"), substring(col("tok"), 1, 1).as("ch"))
      val candidates = chars.groupBy("lang").agg(mg(col("ch")).as("hh"))
        .select(col("lang"), explode(map_keys(col("hh"))).as("ch"))
      // ONE recount pass serves both the candidate counts and the
      // per-language totals: non-candidate items collapse into a
      // single NULL bucket per language (state ≤ k+1 per language, so
      // the aggregation stays bounded however many distinct items the
      // corpus holds), and total = sum over all buckets. Previously
      // totals and recount each re-ran the corpus tokenize+explode —
      // three passes; now two (sketch + recount), with no
      // corpus-sized persist.
      val tagged = chars
        .join(broadcast(candidates.withColumn("__cand", lit(1))),
          Seq("lang", "ch"), "left")
        .withColumn("bucket",
          when(col("__cand").isNotNull, col("ch")))
      val counts = tagged.groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n")) // bounded: langs × (k+1); exchange reused
      val totals = counts.groupBy("lang").agg(sum("n").as("total"))
      counts.filter(col("bucket").isNotNull)
        .select(col("lang"), col("bucket").as("ch"), col("n"))
        .join(broadcast(totals), Seq("lang"))
        .filter(col("n") * (HeavyK + 1) > col("total"))
        .select("lang", "ch", "n", "total")
        .orderBy("lang", "ch")
    }
  }

  // ------------------------------------------- curation E2E pipeline
  /** The shared gate → scrub → exact-dedup SQL prefix of q62 and q93
    * (CTEs `gated`/`fp`/`keep`/`exact`): ONE definition so the two
    * oracles can never drift from each other — and the scrub mirrors
    * TextOps.scrubPii IN FULL (email → id → phone, the q41 oracle's
    * form; a hand-copied email+phone-only variant previously left an
    * SSN-shaped id scrubbed on the Spark side but raw in the oracle —
    * a latent E2E divergence for any corpus containing one). */
  private def gateScrubDedupSql(extraWhere: String): String = {
    val nW = "len(regexp_split_to_array(text, '\\s+'))"
    val nStop = s"""len(list_filter(regexp_split_to_array(text, '\\s+'),
      | w -> w IN (${TextOps.Stopwords.map(w => s"'$w'").mkString(", ")})))"""
      .stripMargin
    s"""gated AS (
      |  SELECT doc_id, lang, source,
      |    regexp_replace(regexp_replace(regexp_replace(
      |        text, '${TextOps.EmailRe}', '<EMAIL>', 'g'),
      |      '${TextOps.IdRe}', '<ID>', 'g'),
      |      '${TextOps.PhoneRe}', '<PHONE>', 'g') AS clean_text
      |  FROM documents
      |  WHERE $extraWhere$nW >= 15 AND $nStop >= 1),
      |fp AS (
      |  SELECT *, md5(regexp_replace(lower(trim(clean_text)), '\\s+',
      |    ' ', 'g')) AS content_fp
      |  FROM gated),
      |keep AS (SELECT content_fp, min(doc_id) AS doc_id FROM fp
      |  GROUP BY 1),
      |exact AS (SELECT f.* FROM fp f JOIN keep k
      |  ON f.content_fp = k.content_fp AND f.doc_id = k.doc_id)"""
      .stripMargin
  }

  // The LLM-tier analog of q34's medallion E2E: quality gate → PII
  // scrub → exact dedup (first copy per normalized-content hash) →
  // stratified hash sample → mixture-epoch expansion, composed from
  // the same operator functions the individual queries use, and
  // expressible as ONE SQL chain for the oracle. Every stage is
  // scan-local or a single key shuffle; the only wide ops are the
  // dedup groupBy and its keep-row join.
  val qCurationE2e: Q = {
    val upList = UpSources.map(x => s"'$x'").mkString(", ")
    val midList = MidSources.map(x => s"'$x'").mkString(", ")
    Q("q62_curation_e2e",
      s"""WITH ${gateScrubDedupSql("")},
        |sampled AS (
        |  SELECT * FROM exact
        |  WHERE md5(CAST(doc_id AS VARCHAR)) <
        |    (CASE WHEN lang = 'en' THEN '8' ELSE 'c' END)),
        |w AS (
        |  SELECT doc_id, lang, source, content_fp,
        |    CASE WHEN source IN ($upList) THEN 3
        |         WHEN source IN ($midList) THEN 2 ELSE 0 END
        |      + CASE WHEN md5('mix-' || CAST(doc_id AS VARCHAR)) <
        |          (CASE WHEN source IN ($upList) THEN '8'
        |                WHEN source IN ($midList) THEN '0'
        |                ELSE 'c' END) THEN 1 ELSE 0 END AS n_rep
        |  FROM sampled)
        |SELECT doc_id, lang, source, content_fp,
        |  CAST(unnest(range(1, n_rep + 1)) AS BIGINT) AS rep,
        |  md5('ord-' || CAST(doc_id AS VARCHAR) || '-' ||
        |    CAST(unnest(range(1, n_rep + 1)) AS VARCHAR)) AS shuffle_key
        |FROM w ORDER BY doc_id, rep""".stripMargin) { (s, d) =>
      val t = TextOps.tokens(col("text"))
      val nWords = size(t)
      val nStopC = size(filter(t, x => x.isInCollection(TextOps.Stopwords)))
      // Exchange the raw rows on the doc key BELOW the gate/scrub
      // projection (guide §2.5, the q30/q34 pattern): the tokenizer,
      // stopword filter and the three PII regex passes otherwise run
      // serially on the one task the single-row-group scan yields.
      // Measured (targeted min-of-3): 1.17 → 0.86 s.
      val gated = T(s, d, "documents")
        .repartition(col("doc_id"))
        .filter(nWords >= 15 && nStopC >= 1)
        .select(col("doc_id"), col("lang"), col("source"),
          TextOps.scrubPii(col("text")).as("clean_text"))
      val fp = gated.withColumn("content_fp",
        TextOps.contentHash(col("clean_text")))
      val keep = fp.groupBy("content_fp").agg(min("doc_id").as("doc_id"))
      val deduped = fp.join(keep, Seq("content_fp", "doc_id"))
      val sampled = deduped.filter(sampleKey(col("doc_id")) <
        when(col("lang") === "en", "8").otherwise("c"))
      val base = when(col("source").isInCollection(UpSources), 3L)
        .when(col("source").isInCollection(MidSources), 2L).otherwise(0L)
      val frTh = when(col("source").isInCollection(UpSources), "8")
        .when(col("source").isInCollection(MidSources), "0").otherwise("c")
      val nRep = base +
        when(sampleKey(col("doc_id"), "mix-") < frTh, 1L).otherwise(0L)
      sampled
        .select(col("doc_id"), col("lang"), col("source"),
          col("content_fp"),
          explode(when(nRep >= 1, sequence(lit(1L), nRep))
            .otherwise(array().cast("array<bigint>"))).as("rep"))
        .withColumn("shuffle_key",
          md5(concat(lit("ord-"), col("doc_id").cast("string"), lit("-"),
            col("rep").cast("string"))))
        .orderBy("doc_id", "rep")
    }
  }

  // ------------------------------------------- sequence packing
  // The "pack documents into fixed-token training sequences" op:
  // within each source shard, docs fill packs contiguously in stable
  // doc_id order; pack = ⌊(cumulative_tokens − 1) / budget⌋ — a pure
  // prefix sum, so the whole assignment is ONE window pass partitioned
  // by shard (state per group = running sum; group size = shard size,
  // which is how real pipelines pack — per input shard, not globally).
  // Deterministic: re-running over a grown corpus never reassigns docs
  // of already-full packs within a shard.
  val PackBudget = 512L

  val qSequencePacking: Q = Q(
    "q73_sequence_packing",
    s"""WITH toks AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT source, doc_id, n_tokens,
      |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |       ROWS UNBOUNDED PRECEDING) - 1) // $PackBudget AS pack_id
      |  FROM toks)
      |SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      |FROM packed GROUP BY source, pack_id
      |ORDER BY source, pack_id""".stripMargin) { (s, d) =>
    val toks = T(s, d, "documents").select(col("source"), col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    toks
      .withColumn("pack_id",
        Exact.floorDiv(sum("n_tokens").over(w) - 1, lit(PackBudget)))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
      .orderBy("source", "pack_id")
  }

  // ------------------------------------- mixture rebalancing (computed)
  // q50's mixture uses FIXED per-tier weights; real pipelines compute
  // the weights from the data: given target corpus shares per language,
  // derive each language's keep rate from its ACTUAL count and
  // downsample deterministically. All arithmetic is exact-integer
  // (rates in 256ths → a 2-hex-char md5 prefix threshold, the 256-level
  // refinement of q44's 16-level single-char gate), so the kept set is
  // a pure function of (doc_id, counts) — identical in both engines and
  // stable across reruns. Languages under their target cap at rate 256
  // (= keep all; a keep-filter cannot upsample — q50's repeat-explode
  // is the upsampling half). Shapes: one count agg, a |langs|-row
  // broadcast, a scan-local filter, one audit agg — nothing wide at any
  // corpus size.
  val TargetShares: Map[String, Long] =
    Map("en" -> 10L, "de" -> 5L, "fr" -> 30L, "es" -> 30L, "zh" -> 25L)

  /** Per-language keep-rate table: n docs, integer target count, keep
    * rate in 256ths, and the md5-prefix threshold implementing it. */
  def rebalanceRates(docs: DataFrame, shares: Map[String, Long])
      : DataFrame = {
    val share = shares.tail.foldLeft(
        when(col("lang") === shares.head._1, shares.head._2)) {
        case (acc, (l, s)) => acc.when(col("lang") === l, s)
      }.otherwise(0L)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").cast("long").as("total"))
    counts.crossJoin(broadcast(total))
      .withColumn("target_cnt",
        Exact.floorDiv(col("total") * share, lit(100L)))
      .withColumn("rate256", least(lit(256L),
        Exact.floorDiv(col("target_cnt") * 256, col("n"))))
      .withColumn("th", lower(lpad(hex(col("rate256")), 2, "0")))
  }

  /** The kept (downsampled) documents under an already-computed rates
    * table — callers that also report the rates (q87) pass one shared
    * instance instead of re-running the count aggregations. */
  def rebalanceWith(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.join(broadcast(rates.select("lang", "rate256", "th")), "lang")
      .filter(col("rate256") >= 256 ||
        substring(sampleKey(col("doc_id"), "bal-"), 1, 2) < col("th"))
      .drop("rate256", "th")

  val qRebalanceMix: Q = {
    val shareSql = "CASE lang " + TargetShares.toSeq.sortBy(_._1).map {
      case (l, s) => s"WHEN '$l' THEN $s"
    }.mkString(" ") + " ELSE 0 END"
    Q("q87_rebalance_mix",
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |s AS (SELECT lang, n, (total * ($shareSql)) // 100 AS target_cnt
        |  FROM c CROSS JOIN tot),
        |r AS (SELECT lang, n, target_cnt,
        |  least(256, (target_cnt * 256) // n) AS rate256 FROM s),
        |k AS (
        |  SELECT d.lang, count(*) AS n_kept
        |  FROM documents d JOIN r ON d.lang = r.lang
        |  WHERE r.rate256 >= 256 OR
        |    substr(md5('bal-' || CAST(d.doc_id AS VARCHAR)), 1, 2) <
        |      lower(lpad(to_hex(r.rate256), 2, '0'))
        |  GROUP BY 1)
        |SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs,
        |  CAST(r.target_cnt AS BIGINT) AS target_cnt,
        |  CAST(r.rate256 AS BIGINT) AS rate256,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
        |FROM r LEFT JOIN k ON r.lang = k.lang
        |ORDER BY r.lang""".stripMargin) { (s, d) =>
      val docs = T(s, d, "documents")
      // ONE rates instance feeds both the keep-filter and the report
      // (persist: the two consumers sit in one action; without it the
      // per-language count + total aggregations run twice)
      val rates = rebalanceRates(docs, TargetShares).persist()
      val kept = rebalanceWith(docs, rates)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      rates
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n").as("n_docs"), col("target_cnt"),
          col("rate256"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    }
  }

  // ---------------------------------------------------- PII redaction
  // Per-category audit over THE pattern set ([[TextOps.EmailRe]] /
  // IdRe / PhoneRe — one definition shared with q41's scrub). q41 is
  // the scrub projection (clean text out);
  // q88 is the audit (counts per category + redacted length), the
  // report a compliance pass wants. Purely scan-local (regexp_count +
  // the shared chained-replace scrub, whole-stage codegen): composes
  // with any scan at any corpus size — no shuffle, no state. Counts
  // are taken on the ORIGINAL text. The shipped testdata is PII-free
  // (all counts 0, text passes through) — the SPEC proves each
  // pattern fires and masks on synthesized PII, the oracle proves
  // the cross-engine passthrough + counting shape.
  val EmailPat: String = TextOps.EmailRe
  val IdPat: String = TextOps.IdRe
  val PhonePat: String = TextOps.PhoneRe

  /** documents + PII counts + redacted text (scan-local). */
  def redactPii(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col("text"), lit(EmailPat)))
      .withColumn("n_ids", regexp_count(col("text"), lit(IdPat)))
      .withColumn("n_phones", regexp_count(col("text"), lit(PhonePat)))
      .withColumn("text_redacted", TextOps.scrubPii(col("text")))

  val qPiiRedact: Q = Q(
    "q88_pii_redact",
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(text, '$IdPat')) AS BIGINT)
      |    AS n_ids,
      |  CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT)
      |    AS n_phones,
      |  CAST(length(regexp_replace(regexp_replace(regexp_replace(
      |    text, '$EmailPat', '<EMAIL>', 'g'),
      |    '$IdPat', '<ID>', 'g'),
      |    '$PhonePat', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    redactPii(T(s, d, "documents"))
      .select(col("doc_id"),
        col("n_emails").cast("long").as("n_emails"),
        col("n_ids").cast("long").as("n_ids"),
        col("n_phones").cast("long").as("n_phones"),
        length(col("text_redacted")).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  // ----------------------------------------- within-doc repetition
  // Duplicate word-trigram fraction per document (the Gopher-class
  // repetition signal: boilerplate and degenerate generations repeat
  // themselves). Scan-local: tokenize → trigram via a bounded
  // transform over index positions → array_distinct — no explode, no
  // shuffle; the per-doc arrays live only inside the projection, so
  // memory is bounded by the longest document, not the corpus.
  val qRepetition: Q = Q(
    "q89_repetition",
    s"""WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, greatest(len(w) - 2, 0) AS n_tri,
      |    CASE WHEN len(w) >= 3 THEN
      |      len(list_distinct([array_to_string(w[i:i+2], ' ')
      |        for i in range(1, len(w) - 1)]))
      |    ELSE 0 END AS n_distinct
      |  FROM t)
      |SELECT doc_id, CAST(n_tri AS BIGINT) AS n_trigrams,
      |  CAST(n_tri - n_distinct AS BIGINT) AS n_dup,
      |  ${Exact.dec4Sql(
           s"CASE WHEN n_tri > 0 THEN ${Exact.halfUpDivSql(
             "(n_tri - n_distinct)*10000", "n_tri")} ELSE 0 END")}
      |    AS dup_ratio
      |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = split(trim(col("text")), "\\s+")
    val tris = expr(
      "transform(sequence(0, size(w) - 3), " +
        "i -> concat_ws(' ', slice(w, i + 1, 3)))")
    T(s, d, "documents")
      .withColumn("w", w)
      .withColumn("n_tri",
        greatest(size(col("w")) - 2, lit(0)).cast("long"))
      .withColumn("n_distinct",
        when(size(col("w")) >= 3, size(array_distinct(tris)))
          .otherwise(0).cast("long"))
      .select(col("doc_id"), col("n_tri").as("n_trigrams"),
        (col("n_tri") - col("n_distinct")).as("n_dup"),
        Exact.dec4(when(col("n_tri") > 0,
            Exact.halfUpDiv((col("n_tri") - col("n_distinct")) * 10000,
              col("n_tri")))
          .otherwise(0L)).as("dup_ratio"))
      .orderBy("doc_id")
  }

  // ------------------------------------------ leakage-safe data split
  // Train/val/test assignment keyed on the CONTENT FINGERPRINT, not
  // the doc id: exact duplicates (and re-crawls of the same text)
  // land in the SAME fold by construction, so eval can never score a
  // memorized copy of a training doc — the split-leakage bug every
  // benchmark audit looks for first. The near-dup-safe variant is the
  // same shape keyed on `dedupCorpus`' cluster keep_id (rows-only,
  // exercised via q35's clustering); THIS one is exact-dup-safe and
  // fully oracle-checkable. Deterministic hash thresholds in 256ths:
  // <0xcc train (~79.7%), <0xe6 val (~10.2%), else test (~10.2%) —
  // stable across runs/engines, and a grown corpus never reassigns an
  // existing document. Scan-local + the fingerprint projection; no
  // shuffle (fold is a pure function of the fingerprint).
  val qLeakageSplit: Q = Q(
    "q90_leakage_split",
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents)
      |SELECT doc_id, fp,
      |  CASE WHEN substr(md5('split-' || fp), 1, 2) < 'cc' THEN 'train'
      |       WHEN substr(md5('split-' || fp), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS fold
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    T(s, d, "documents")
      .select(col("doc_id"), TextOps.contentHash(col("text")).as("fp"))
      .withColumn("__k",
        substring(md5(concat(lit("split-"), col("fp"))), 1, 2))
      .select(col("doc_id"), col("fp"),
        when(col("__k") < "cc", "train")
          .when(col("__k") < "e6", "val")
          .otherwise("test").as("fold"))
      .orderBy("doc_id")
  }

  // --------------------------------- full training pipeline (E2E, oracle)
  // The complete curate→dedup→split→pack chain a training run feeds
  // from, as ONE oracle-checked query — every stage is the SAME
  // operator the standalone queries verify (q62's gate/scrub/exact
  // dedup, q24's df-capped exact-Jaccard pairs, q90's fingerprint
  // split, q73's prefix-sum packing), composed end-to-end so the
  // oracle certifies the HAND-OFFS between stages, not just the
  // stages in isolation. Near-dup removal uses the deterministic
  // pairwise-dominance rule (drop b when some a < b has Jaccard ≥ 0.5
  // over the df-capped shingles): unlike the transitive clustering of
  // q35 it is single-SQL-expressible, which is what makes the whole
  // pipeline DuckDB-checkable. Shapes: scan-local gates, one
  // fingerprint shuffle, the capped inverted-index shuffle, broadcast
  // size lookups, one window pass per (fold, source) shard — nothing
  // wide beyond what the standalone queries already carry at 100 TB.
  val qTrainingPipeline: Q = {
    Q("q93_training_pipeline",
      s"""WITH ${gateScrubDedupSql("doc_id % 4 = 0 AND ")},
        |tok AS (
        |  SELECT doc_id, regexp_split_to_array(clean_text, '\\s+') AS t
        |  FROM exact),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)),
        |shkeep AS (
        |  SELECT s FROM sh GROUP BY s
        |  HAVING count(DISTINCT doc_id) <= ${NearDup.MaxDf}),
        |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN shkeep USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dupped AS (
        |  SELECT DISTINCT p.b_id AS doc_id FROM pairs p
        |  JOIN sizes sa ON p.a_id = sa.doc_id
        |  JOIN sizes sb ON p.b_id = sb.doc_id
        |  WHERE p.n_inter * 10000 >= (sa.n + sb.n - p.n_inter) * 5000),
        |survivors AS (
        |  SELECT e.* FROM exact e
        |  WHERE NOT EXISTS (SELECT 1 FROM dupped d
        |    WHERE d.doc_id = e.doc_id)),
        |folded AS (
        |  SELECT *,
        |    CASE WHEN substr(md5('split-' || content_fp), 1, 2) < 'cc'
        |           THEN 'train'
        |         WHEN substr(md5('split-' || content_fp), 1, 2) < 'e6'
        |           THEN 'val'
        |         ELSE 'test' END AS fold
        |  FROM survivors),
        |toks AS (
        |  SELECT doc_id, lang, source, fold,
        |    CAST(len(regexp_split_to_array(clean_text, '\\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM folded),
        |packed AS (
        |  SELECT *,
        |    (sum(n_tokens) OVER (PARTITION BY fold, source ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING) - 1) // $PackBudget AS pack_id
        |  FROM toks)
        |SELECT doc_id, lang, source, fold, n_tokens,
        |  CAST(pack_id AS BIGINT) AS pack_id
        |FROM packed ORDER BY doc_id""".stripMargin) { (s, d) =>
      // id%4==0 quarter of the corpus: the carrier exercises the full
      // chain at a quarter of the bench cost (the specs carry the
      // semantics at full density) — the oracle applies the same
      // slice, so the E2E compare is exact over everything the
      // carrier processes. Near-dup structure in the slice is
      // MEASURED, not assumed (7 verified pairs at sf0.01): replica
      // ids are spread, so re-slicing (e.g. %8) must re-verify that
      // the dominance stage still has pairs to remove.
      val t = TextOps.tokens(col("text"))
      val gated = T(s, d, "documents")
        .filter(col("doc_id") % 4 === 0 && size(t) >= 15 &&
          size(filter(t, x => x.isInCollection(TextOps.Stopwords))) >= 1)
        .select(col("doc_id"), col("lang"), col("source"),
          TextOps.scrubPii(col("text")).as("clean_text"))
      val fp = gated.withColumn("content_fp",
        TextOps.contentHash(col("clean_text")))
      val keepFp = fp.groupBy("content_fp").agg(min("doc_id").as("doc_id"))
      // persisted: consumed by BOTH the shingle index and the
      // survivors anti-join — without it the gate+scrub+fingerprint
      // subtree runs twice (the invertedPairCounts `lists` rationale)
      val exact = fp.join(keepFp, Seq("content_fp", "doc_id")).persist()
      val shi = NearDup.shingleIndex(exact, "doc_id", col("clean_text"))
      val (pairs, sizes, sized, _) =
        NearDup.invertedPairCounts(shi, "doc_id")
      val dup = pairs
        .join(sized(sizes.select(col("doc_id").as("a_id"),
          col("n").as("na"))), Seq("a_id"))
        .join(sized(sizes.select(col("doc_id").as("b_id"),
          col("n").as("nb"))), Seq("b_id"))
        .filter(col("n_inter") * 10000 >=
          (col("na") + col("nb") - col("n_inter")) * 5000)
        .select(col("b_id").as("doc_id")).distinct()
      val survivors = exact.join(dup, Seq("doc_id"), "left_anti")
      val splitKey = substring(
        md5(concat(lit("split-"), col("content_fp"))), 1, 2)
      val folded = survivors.withColumn("fold",
        when(splitKey < "cc", "train")
          .when(splitKey < "e6", "val").otherwise("test"))
      val toks = folded.select(col("doc_id"), col("lang"), col("source"),
        col("fold"),
        size(TextOps.tokens(col("clean_text"))).cast("long")
          .as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fold", "source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      toks
        .withColumn("pack_id",
          Exact.floorDiv(sum("n_tokens").over(w) - 1, lit(PackBudget)))
        .select("doc_id", "lang", "source", "fold", "n_tokens", "pack_id")
        .orderBy("doc_id")
    }
  }

  // ------------------------------------------- long-document chunking
  // The splitting half of sequence assembly (q73/q81 PACK short docs
  // into budget-sized sequences; THIS splits docs longer than the
  // window into overlapping fixed-token chunks — the standard
  // long-context ingestion move, with the overlap preserving
  // cross-boundary n-grams). Chunk starts stride by budget − overlap;
  // every token is covered; a doc at or under the budget yields one
  // chunk. Entirely scan-local (sequence + slice HOFs inside one
  // projection — the chunk list never leaves its row until the final
  // explode), so it composes with any scan at any corpus size.
  val ChunkBudget = 64L
  val ChunkOverlap = 16L

  val qDocChunking: Q = {
    val step = ChunkBudget - ChunkOverlap
    Q("q94_doc_chunking",
      s"""WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0,
        |      CAST(len(t) AS BIGINT) - 1, $step)) AS start_tok
        |  FROM tok),
        |ch AS (
        |  SELECT doc_id, start_tok,
        |    t[start_tok + 1 : least(start_tok + $ChunkBudget,
        |      CAST(len(t) AS BIGINT))] AS c
        |  FROM st
        |  WHERE start_tok = 0 OR start_tok + $ChunkOverlap <
        |    CAST(len(t) AS BIGINT))
        |SELECT doc_id,
        |  CAST(start_tok // $step AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(c) AS BIGINT) AS n_tok,
        |  md5(array_to_string(c, ' ')) AS chunk_hash
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      val t = TextOps.tokens(col("text"))
      // starts 0, step, 2·step … below len; a start that would emit a
      // pure-suffix-of-overlap tail (start+overlap ≥ len, start > 0)
      // is dropped — its tokens are already covered by the previous
      // chunk's window
      val starts = filter(
        sequence(lit(0L), size(t).cast("long") - 1, lit(ChunkBudget -
          ChunkOverlap)),
        st => st === 0L ||
          st + lit(ChunkOverlap) < size(t).cast("long"))
      T(s, d, "documents")
        .select(col("doc_id"), t.as("t"), explode(starts).as("start_tok"))
        .select(col("doc_id"),
          Exact.floorDiv(col("start_tok"),
            lit(ChunkBudget - ChunkOverlap)).as("chunk_id"),
          col("start_tok"),
          slice(col("t"), col("start_tok") + 1, lit(ChunkBudget))
            .as("c"))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          size(col("c")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("c"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    }
  }

  val all: Seq[Q] =
    Seq(qHashSample, qVocabOov, qTopKPerGroup, qTfidfKeywords,
      qMixtureEpoch, qHeavyHitters, qCurationE2e, qSequencePacking,
      qRebalanceMix, qPiiRedact, qRepetition, qLeakageSplit,
      qTrainingPipeline, qDocChunking)
}
