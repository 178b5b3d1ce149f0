package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.io.Tables
import graft.ops.Exact
import graft.queries.Q

/** Text-analysis operators for LLM training-data pipelines: tokenization,
  * quality scoring, language-ID heuristics, document fingerprinting,
  * exact dedup. All are pure `Column` expressions (whole-stage codegen,
  * no UDFs, no shuffles except the final aggregates) — at 100 TB these
  * run scan-local at full parquet read speed.
  */
object TextOps {

  /** Whitespace tokens (regex split — matches DuckDB
    * `regexp_split_to_array(text, '\s+')`). */
  def tokens(c: Column): Column = split(c, "\\s+")

  /** Stopword list shared with oracles — keep in sync. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")
  private def stopSqlList = Stopwords.map(w => s"'$w'").mkString(", ")

  /** Language marker words: (lang, marker). Deterministic n-gram-style
    * heuristic — scores are marker-token counts, argmax with a fixed
    * priority order for ties. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "de" -> "der", "fr" -> "le", "es" -> "el", "zh" -> "的")

  /** Canonical normalized form for fingerprinting: trim, lowercase,
    * collapse whitespace runs. */
  def normalized(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** THE normalized-content fingerprint (q19/q23/q86 all dedup on
    * this) — one definition, so their fingerprints can never drift
    * apart. */
  def contentHash(c: Column): Column = md5(normalized(c))

  /** THE quality band (q20's 40/15 thresholds + stopword presence) —
    * shared by the q20 report and the DSIR / n-gram HIGH-band targets;
    * a threshold change lands in all of them atomically. */
  def qualityBand(text: Column): Column = {
    val t = tokens(text)
    val nWords = size(t).cast("long")
    val nStop = size(filter(t, w => w.isInCollection(Stopwords)))
    when(nWords >= 40 && nStop > 0, "HIGH")
      .when(nWords >= 15, "MEDIUM").otherwise("LOW")
  }

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // ------------------------------------------------------ exact dedup
  // Exact duplicate grouping by content fingerprint. Fingerprint here is
  // md5 of the first-5-token prefix so the testdata actually produces
  // collision groups; production use passes the full normalized text.
  // Scale shape: one hash-shuffle on the fingerprint — the canonical
  // exact-dedup plan at any scale.
  val qDedupExact: Q = Q(
    "q19_dedup_exact",
    """WITH fp AS (
      |  SELECT doc_id,
      |    md5(array_to_string(regexp_split_to_array(text, '\s+')[1:5], ' '))
      |      AS fp5
      |  FROM documents)
      |SELECT fp5, min(doc_id) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS n_dups
      |FROM fp GROUP BY fp5 ORDER BY keep_id""".stripMargin) { (s, d) =>
    T(s, d, "documents")
      .select(col("doc_id"),
        md5(array_join(slice(tokens(col("text")), 1, 5), " ")).as("fp5"))
      .groupBy("fp5")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("fp5", "keep_id", "n_dups")
      .orderBy("keep_id")
  }

  // --------------------------------------------------- quality scoring
  val qTextQuality: Q = {
    val nW = "len(regexp_split_to_array(text, '\\s+'))"
    val nAlpha = "length(regexp_replace(text, '[^a-z]', '', 'g'))"
    val nStop = s"""len(list_filter(regexp_split_to_array(text, '\\s+'),
      | w -> w IN ($stopSqlList)))""".stripMargin
    Q("q20_text_quality",
      s"""SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars_txt,
        |  CAST($nW AS INTEGER) AS n_words,
        |  CAST($nAlpha AS INTEGER) AS n_alpha,
        |  CAST($nStop AS INTEGER) AS n_stopwords,
        |  ${Exact.dec4Sql(
             Exact.halfUpDivSql(s"($nAlpha)*10000", "length(text)"))}
        |    AS alpha_ratio,
        |  ${Exact.dec4Sql(Exact.halfUpDivSql(s"($nStop)*10000", nW))}
        |    AS stop_ratio,
        |  CASE WHEN $nW >= 40 AND $nStop > 0 THEN 'HIGH'
        |       WHEN $nW >= 15 THEN 'MEDIUM' ELSE 'LOW' END AS quality_band
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = tokens(col("text"))
      val nWords = size(t).cast("long")
      val nAlphaC = length(regexp_replace(col("text"), "[^a-z]", ""))
        .cast("long")
      val nStopC = size(filter(t, w => w.isInCollection(Stopwords)))
        .cast("long")
      T(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars_txt"),
          size(t).as("n_words"),
          nAlphaC.cast(IntegerType).as("n_alpha"),
          nStopC.cast(IntegerType).as("n_stopwords"),
          Exact.dec4(Exact.halfUpDiv(nAlphaC * 10000,
            length(col("text")).cast("long"))).as("alpha_ratio"),
          Exact.dec4(Exact.halfUpDiv(nStopC * 10000, nWords))
            .as("stop_ratio"),
          qualityBand(col("text")).as("quality_band"))
        .orderBy("doc_id")
    }
  }

  // ------------------------------------------------------- language ID
  val qLangId: Q = {
    def oScore(marker: String) =
      s"""len(list_filter(regexp_split_to_array(text, '\\s+'),
        | w -> w = '$marker'))""".stripMargin
    val scoreCols = LangMarkers
      .map { case (l, m) => s"CAST(${oScore(m)} AS INTEGER) AS score_$l" }
      .mkString(",\n      |  ")
    // argmax with fixed priority order (en > de > fr > es > zh on ties)
    val pred = LangMarkers.init.foldRight("'zh'") { case ((l, _), rest) =>
      val geAll = LangMarkers.filter(_._1 != l)
        .map { case (o, _) => s"score_$l >= score_$o" }.mkString(" AND ")
      s"CASE WHEN $geAll THEN '$l' ELSE $rest END"
    }
    Q("q21_lang_id",
      s"""WITH scored AS (
        |  SELECT doc_id, lang,
        |  $scoreCols
        |  FROM documents)
        |SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
        |  score_zh, $pred AS lang_pred, ($pred) = lang AS is_match
        |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = tokens(col("text"))
      def score(m: String): Column = size(filter(t, _ === m))
      val scored = T(s, d, "documents").select(
        (Seq(col("doc_id"), col("lang")) ++
          LangMarkers.map { case (l, m) => score(m).as(s"score_$l") }): _*)
      val predC = LangMarkers.init.foldRight(lit("zh")) {
        case ((l, _), rest) =>
          val geAll = LangMarkers.filter(_._1 != l)
            .map { case (o, _) => col(s"score_$l") >= col(s"score_$o") }
            .reduce(_ && _)
          when(geAll, l).otherwise(rest)
      }
      scored
        .withColumn("lang_pred", predC)
        .withColumn("is_match", col("lang_pred") === col("lang"))
        .orderBy("doc_id")
    }
  }

  // ----------------------------------------------------- token counting
  // Whitespace + "BPE-ish" regex tokenization (letters / digits /
  // single punctuation as separate tokens).
  val qTokenCount: Q = Q(
    "q22_token_count",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
      |  CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER)
      |    AS re_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
      |    AS INTEGER) AS bpe_ish_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    T(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).as("ws_tokens"),
        size(split(col("text"), "\\s+")).as("re_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_ish_tokens"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------- fingerprinting
  val qFingerprint: Q = Q(
    "q23_fingerprint",
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |    AS content_hash,
      |  md5(substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
      |    1, 64)) AS prefix_hash,
      |  CASE WHEN n_chars >= 400 THEN 'XL' WHEN n_chars >= 250 THEN 'L'
      |       WHEN n_chars >= 100 THEN 'M' ELSE 'S' END AS len_bucket
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val norm = normalized(col("text"))
    T(s, d, "documents")
      .select(col("doc_id"),
        md5(norm).as("content_hash"),
        md5(substring(norm, 1, 64)).as("prefix_hash"),
        when(col("n_chars") >= 400, "XL").when(col("n_chars") >= 250, "L")
          .when(col("n_chars") >= 100, "M").otherwise("S").as("len_bucket"))
      .orderBy("doc_id")
  }

  // ------------------------------------------- rolling-hash fingerprint
  /** Order-sensitive rolling hash over the token sequence as a chained
    * hash (`h ← xxhash64(h, token)`): unlike the md5 content hash,
    * token order changes the value, and prefix hashes of shared
    * prefixes collide — the Rabin–Karp-style document fingerprint.
    * Chaining through xxhash64 rather than `h·31 + x` arithmetic keeps
    * it ANSI-safe (Spark 4 raises on long overflow by default). Pure
    * expression (aggregate HOF), no shuffle. */
  def rollingHash(tokensCol: Column): Column =
    aggregate(tokensCol, lit(0L), (acc, t) => xxhash64(acc, t))

  /** DuckDB replica of the q38 chain: a RECURSIVE CTE walks token
    * positions — each step seeds with xxhash64(acc-as-long, 42)
    * ([[graft.ops.DuckHash.longChainSeeded]]) then hashes the token's
    * UTF-8 run under that seed ([[graft.ops.DuckHash.strChain]]).
    * Recursion (vs a fold lambda) keeps the rendered SQL linear: a
    * full string hash inlined in a list_reduce lambda duplicates its
    * argument per chain level and goes exponential. Total work is one
    * chain step per token INSTANCE — the corpus token stream. The
    * prefix fingerprint reads the same walk at pos = min(16, n). */
  private def q38OracleSql: String = {
    import graft.ops.DuckHash
    var step = DuckHash.longChainSeeded(
      "SELECT r.doc_id AS doc_id, r.pos + 1 AS pos, " +
        "t.toks[r.pos + 1] AS __tk, r.acc AS __acc " +
        "FROM roll r JOIN tok t USING (doc_id) WHERE r.pos < t.n",
      "__acc", "42", out = "__sd1")
    step = DuckHash.strChain(step, "__tk", "__sd1", out = "__acc2")
    s"""WITH RECURSIVE
       |tok AS (
       |  SELECT doc_id, t AS toks, len(t) AS n
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
       |        FROM documents)),
       |roll AS (
       |  SELECT doc_id, 0 AS pos, 0::BIGINT AS acc FROM tok
       |  UNION ALL
       |  SELECT doc_id, pos, __acc2 AS acc FROM ($step)
       |)
       |SELECT t.doc_id,
       |       f.acc AS rolling_fp,
       |       p.acc AS prefix16_fp,
       |       CAST(t.n AS INTEGER) AS n_tokens
       |FROM tok t
       |JOIN roll f ON f.doc_id = t.doc_id AND f.pos = t.n
       |JOIN roll p ON p.doc_id = t.doc_id AND p.pos = least(16, t.n)
       |ORDER BY t.doc_id""".stripMargin
  }

  val qRollingFingerprint: Q = Q("q38_rolling_fingerprint", q38OracleSql) {
    (s, d) =>
      val t = tokens(col("text"))
      T(s, d, "documents")
        .select(col("doc_id"),
          rollingHash(t).as("rolling_fp"),
          rollingHash(slice(t, 1, 16)).as("prefix16_fp"),
          size(t).as("n_tokens"))
        .orderBy("doc_id")
  }

  // -------------------------------------------------- PII redaction
  // Training-data scrubbing staple: redact email / SSN-shaped id /
  // phone shapes, count what was redacted. THE one pattern set —
  // q41 and q88 (Curation.redactPii) both scrub through these, so
  // the patterns can never drift apart. Regexes
  // stay inside the Java∩RE2 common subset (no lookaround, no \b, no
  // \d) so Spark and DuckDB agree byte-for-byte. Redaction order is
  // fixed email → id → phone: an SSN-shaped id must not be half-eaten
  // by the phone pattern first.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IdRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val PhoneRe = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  /** Redact PII shapes (emails, ids, phone numbers) from a text column. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"),
        IdRe, "<ID>"),
      PhoneRe, "<PHONE>")

  val qPiiScrub: Q = Q(
    "q41_pii_scrub",
    s"""SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(
      |      text, '$EmailRe', '<EMAIL>', 'g'),
      |    '$IdRe', '<ID>', 'g'),
      |    '$PhoneRe', '<PHONE>', 'g') AS clean_text,
      |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INTEGER)
      |    AS n_phones
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    T(s, d, "documents")
      .select(col("doc_id"),
        scrubPii(col("text")).as("clean_text"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .as("n_phones"))
      .orderBy("doc_id")
  }

  // -------------------------------------- repetition / boilerplate
  // Gopher-style repetition signals: token-level distinct ratio and
  // the most-frequent-token share. Degenerate repetition (low distinct
  // ratio, high top-token share) is the classic low-quality marker.
  val qRepetition: Q = {
    val oT = "regexp_split_to_array(text, '\\s+')"
    Q("q42_repetition",
      s"""SELECT doc_id,
        |  CAST(len($oT) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct($oT)) AS INTEGER) AS n_distinct,
        |  ${Exact.dec4Sql(Exact.halfUpDivSql(
             s"len(list_distinct($oT))*10000", s"len($oT)"))}
        |    AS distinct_ratio,
        |  CAST(list_max(list_transform(list_distinct($oT),
        |    x -> len(list_filter($oT, y -> y = x)))) AS INTEGER)
        |    AS top_token_n,
        |  ${Exact.dec4Sql(Exact.halfUpDivSql(
             s"""list_max(list_transform(list_distinct($oT),
        |      x -> len(list_filter($oT, y -> y = x))))*10000""",
             s"len($oT)"))} AS top_token_share,
        |  len(list_distinct($oT)) * 4 < len($oT) AS is_repetitive
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = tokens(col("text"))
      val nTok = size(t).cast("long")
      val dist = array_distinct(t)
      val topN = array_max(transform(dist, x =>
        size(filter(t, y => y === x)))).cast("long")
      T(s, d, "documents")
        .select(col("doc_id"),
          size(t).as("n_tokens"),
          size(dist).as("n_distinct"),
          Exact.dec4(Exact.halfUpDiv(size(dist).cast("long") * 10000,
            nTok)).as("distinct_ratio"),
          topN.cast(IntegerType).as("top_token_n"),
          Exact.dec4(Exact.halfUpDiv(topN * 10000, nTok))
            .as("top_token_share"),
          (size(dist).cast("long") * 4 < nTok).as("is_repetitive"))
        .orderBy("doc_id")
    }
  }

  // ---------------------- DSIR importance weights (data selection)
  /** Hashed-unigram importance weights for data selection (DSIR, Xie
    * et al. 2023, arXiv:2302.03169): score every document by how much
    * its hashed-token distribution resembles a TARGET slice (here the
    * q20 HIGH-quality band) versus the RAW corpus —
    * `weight(doc) = Σ_tokens [ln p̂_tgt(b) − ln p̂_raw(b)]` with
    * add-one smoothing over `buckets` feature buckets. The per-bucket
    * log-ratio is quantized to integer micro-nats (the
    * [[VectorOps.quantize]] sign/floor formula) so per-doc weights are
    * exact BIGINT sums — cross-engine deterministic regardless of
    * summation order; the only doubles that could diverge are the 2·B
    * `ln` calls, boundary-guarded by TextOpsSpec's margin assertion.
    * Scale shape: tokenize/bucket is scan-local (codegen'd xxhash64);
    * the contrast table is `buckets` rows built by one
    * map-side-combined pass and BROADCAST back; the weight itself is
    * one hash-agg keyed on doc_id. Nothing here is corpus-quadratic
    * or driver-sided. */
  val DsirBuckets = 256

  private def dsirBucketCounts(docs: DataFrame, buckets: Int)
      : DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .withColumn("b", pmod(xxhash64(col("w")), lit(buckets.toLong)))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("n"))

  /** The trained DSIR contrast table: `buckets` rows of
    * (bucket, micro-nat log-ratio). Built batch-side in one
    * map-side-combined pass; the batch scorer broadcast-joins it
    * (artifact size is the design constant B, not the corpus). */
  def dsirContrast(docs: DataFrame, buckets: Int = DsirBuckets)
      : DataFrame = {
    val db = dsirBucketCounts(docs, buckets)
    val tgtIds = docs.filter(qualityBand(col("text")) === "HIGH")
      .select("doc_id")
    val rb = db.groupBy("b").agg(sum("n").as("r_cnt"))
    val tb = db.join(tgtIds, "doc_id").groupBy("b")
      .agg(sum("n").as("t_cnt"))
    val tot = rb.agg(coalesce(sum("r_cnt"), lit(0L)).as("r_tot"))
      .crossJoin(tb.agg(coalesce(sum("t_cnt"), lit(0L)).as("t_tot")))
    val dd =
      log((coalesce(col("t_cnt"), lit(0L)) + 1).cast("double") /
        (col("t_tot") + buckets).cast("double")) -
      log((coalesce(col("r_cnt"), lit(0L)) + 1).cast("double") /
        (col("r_tot") + buckets).cast("double"))
    docs.sparkSession.range(0, buckets).toDF("b")
      .join(tb, Seq("b"), "left").join(rb, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (signum(dd) * floor(abs(dd * 1000000d) + 0.5)).cast("long")
          .as("dq"))
  }

  /** Score `docs` against a contrast trained on `train` (defaults to
    * scoring the training corpus itself — the q97 contract). The
    * train-here/score-there split is the deployment shape: train once
    * on a sample, score the full 100 TB corpus with one broadcast. */
  def dsirWeights(docs: DataFrame, buckets: Int = DsirBuckets,
      train: DataFrame = null): DataFrame =
    dsirBucketCounts(docs, buckets)
      .join(broadcast(dsirContrast(
        Option(train).getOrElse(docs), buckets)), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        sum(col("n") * col("dq")).as("weight_q"))

  // Oracle: the bucket function is the strChain xxhash64 replica over
  // DISTINCT tokens (the engine hashes instances; same mapping), the
  // contrast table is 2·B ln() calls on bit-identical doubles
  // quantized by the shared sign/floor formula, and the weight is an
  // exact integer sum — so the hash compare certifies the whole
  // selection decision, not a tolerance band.
  val qDsirWeights: Q = {
    import graft.ops.DuckHash
    val B = DsirBuckets
    val hx = DuckHash.strChain("SELECT w FROM dtok", "w", "42")
    Q(
      "q97_dsir_weights",
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
        |  FROM documents),
        |dtok AS (SELECT DISTINCT w FROM tok),
        |bkt AS (SELECT w, ((xxh % $B) + $B) % $B AS b FROM ($hx)),
        |db AS (SELECT t.doc_id, k.b, count(*) AS n
        |       FROM tok t JOIN bkt k USING (w) GROUP BY 1, 2),
        |tgt AS (SELECT doc_id FROM documents
        |        WHERE len(regexp_split_to_array(text, '\\s+')) >= 40
        |          AND len(list_filter(regexp_split_to_array(text, '\\s+'),
        |                w -> w IN ($stopSqlList))) > 0),
        |rb AS (SELECT b, sum(n) AS r_cnt FROM db GROUP BY b),
        |tb AS (SELECT b, sum(n) AS t_cnt
        |       FROM db JOIN tgt USING (doc_id) GROUP BY b),
        |tot AS (SELECT (SELECT coalesce(sum(r_cnt), 0) FROM rb) AS r_tot,
        |               (SELECT coalesce(sum(t_cnt), 0) FROM tb) AS t_tot),
        |ctr AS (SELECT b,
        |    CAST(sign(dd) * floor(abs(dd * 1000000) + 0.5) AS BIGINT)
        |      AS dq FROM (
        |  SELECT s.b,
        |    ln(CAST(coalesce(t.t_cnt, 0) + 1 AS DOUBLE)
        |       / CAST(tot.t_tot + $B AS DOUBLE))
        |    - ln(CAST(coalesce(r.r_cnt, 0) + 1 AS DOUBLE)
        |       / CAST(tot.r_tot + $B AS DOUBLE)) AS dd
        |  FROM (SELECT unnest(generate_series(0, ${B - 1})) AS b) s
        |  LEFT JOIN tb t USING (b) LEFT JOIN rb r USING (b)
        |  CROSS JOIN tot))
        |SELECT db.doc_id, CAST(sum(db.n) AS BIGINT) AS n_tokens,
        |  CAST(sum(db.n * c.dq) AS BIGINT) AS weight_q
        |FROM db JOIN ctr c USING (b)
        |GROUP BY db.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      dsirWeights(T(s, d, "documents")).orderBy("doc_id")
    }
  }

  // --------------------------------------------- unigram token entropy
  /** Shannon entropy of each document's unigram distribution, in
    * integer micro-nats — the Gopher-family boilerplate signal that
    * [[qRepetition]]'s top-share/distinct-ratio columns approximate:
    * near-zero entropy = a handful of tokens repeated (templated
    * boilerplate), entropy ≈ ln(n_tokens) = every token distinct.
    * `H = ln(n) − (Σ c·ln c)/n` over per-doc term counts `c`, held
    * cross-engine exact by the shared ln-quantization discipline
    * (q97/q99): the only doubles are `ln(k)` of the OBSERVED integer
    * counts, each quantized to micro-nats with the sign/floor formula
    * and margin-guarded in TextOpsSpec; the division is
    * [[Exact.halfUpDiv]].
    *
    * Scale shape: tokens leave the scan as 8-byte xxhash64
    * fingerprints (the q100 discipline — raw token strings never
    * shuffle; the oracle groups the same equality relation by the
    * string itself), then two map-side-combined hash-aggs:
    * (doc_id, term) counts → per-doc entropy. Nothing is
    * corpus-global — the LM-free complement of [[qDsirWeights]]. */
  val qTokenEntropy: Q = {
    def lnqSql(x: String): String =
      s"CAST(sign(ln(CAST($x AS DOUBLE))) * " +
        s"floor(abs(ln(CAST($x AS DOUBLE)) * 1000000) + 0.5) AS BIGINT)"
    Q(
      "q102_token_entropy",
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
        |  FROM documents),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(c * ${lnqSql("c")}) AS BIGINT) AS s_q
        |  FROM tc GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  ${lnqSql("n_tokens")} - ${Exact.halfUpDivSql("s_q", "n_tokens")}
        |    AS entropy_q
        |FROM d ORDER BY doc_id""".stripMargin) { (s, d) =>
      def lnq(x: Column): Column = {
        val dd = log(x.cast("double"))
        (signum(dd) * floor(abs(dd * 1000000d) + 0.5)).cast("long")
      }
      T(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), xxhash64(col("w")).as("wf"))
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * lnq(col("c"))).as("s_q"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (lnq(col("n_tokens")) -
            Exact.halfUpDiv(col("s_q"), col("n_tokens"))).as("entropy_q"))
        .orderBy("doc_id")
    }
  }

  val all: Seq[Q] =
    Seq(qDedupExact, qTextQuality, qLangId, qTokenCount, qFingerprint,
      qRollingFingerprint, qPiiScrub, qRepetition, qDsirWeights,
      qTokenEntropy)
}
