package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Exact
import graft.queries.Q

/** Distributed percentiles (SURVEY.md §2.6's sort/top-k family, grown
  * to the scale path): exact per-group percentiles via cumulative
  * histogram compression, plus the mergeable-sketch variant.
  *
  * The exact plan never sorts rows. It aggregates to a per-group value
  * histogram first (`groupBy(group, value).count()` — map-side combine
  * shrinks the shuffle to |distinct values| per group, not |rows|),
  * then walks the histogram with a cumulative-sum window and picks the
  * smallest value whose cumulative count reaches the target rank —
  * identical semantics to sorting all rows and indexing, at a fraction
  * of the shuffle. Money has bounded distinct cardinality, so at 100 TB
  * the windowed histogram is millions of times smaller than the fact
  * table; the sketch path (q48) is for genuinely high-cardinality
  * doubles where even the histogram is too wide.
  */
object Quantiles {

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** Per-nation order-total cents: the shared input of q47/q48. */
  private def nationCents(s: SparkSession, d: String): DataFrame =
    // NULL amounts carry no rank: a NULL cents row would shift the
    // engines' percentile targets differently (rank counts include it
    // on one side only) — excluded like any aggregate ignores NULLs
    T(s, d, "orders")
      .filter(col("o_totalprice").isNotNull)
      .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), Exact.cents(col("o_totalprice")).as("cents"))

  /** Exact percentile targets: lower-median rank ⌈n/2⌉ and p95 rank
    * ⌈0.95·n⌉ (ceil(a/b) = floor((a+b-1)/b) in exact integer space). */
  private def rankP50(n: org.apache.spark.sql.Column) =
    Exact.floorDiv(n + 1, lit(2L))
  private def rankP95(n: org.apache.spark.sql.Column) =
    Exact.floorDiv(n * 95 + 99, lit(100L))

  // ------------------------------------------- exact percentiles
  // Oracle uses the textbook row_number form; the engine uses the
  // histogram form — "element at rank k" ≡ "smallest value whose
  // cumulative count ≥ k", so the two agree exactly (ties included:
  // equal values collapse into one histogram bucket).
  val qExactPercentiles: Q = Q(
    "q47_exact_percentiles",
    s"""WITH oc AS (
      |  SELECT n.n_name, ${Exact.centsSql("o.o_totalprice")} AS cents
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE o.o_totalprice IS NOT NULL),
      |r AS (
      |  SELECT n_name, cents,
      |    row_number() OVER (PARTITION BY n_name ORDER BY cents) AS rk,
      |    count(*) OVER (PARTITION BY n_name) AS n
      |  FROM oc)
      |SELECT n_name, CAST(max(n) AS BIGINT) AS n_orders,
      |  ${Exact.dec2Sql("max(CASE WHEN rk = (n+1)//2 THEN cents END)")}
      |    AS p50,
      |  ${Exact.dec2Sql("max(CASE WHEN rk = (n*95+99)//100 THEN cents END)")}
      |    AS p95,
      |  ${Exact.dec2Sql("min(cents)")} AS min_total,
      |  ${Exact.dec2Sql("max(cents)")} AS max_total
      |FROM r GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    val hist = nationCents(s, d)
      .groupBy("n_name", "cents").agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy("n_name").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy("n_name")
    hist
      .withColumn("cum", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(all))
      .groupBy("n_name")
      .agg(max("n").as("n_orders"),
        min(when(col("cum") >= rankP50(col("n")), col("cents"))).as("c50"),
        min(when(col("cum") >= rankP95(col("n")), col("cents"))).as("c95"),
        min("cents").as("cmin"), max("cents").as("cmax"))
      .select(col("n_name"), col("n_orders"),
        Exact.dec2(col("c50")).as("p50"), Exact.dec2(col("c95")).as("p95"),
        Exact.dec2(col("cmin")).as("min_total"),
        Exact.dec2(col("cmax")).as("max_total"))
      .orderBy("n_name")
  }

  /** Lower-median per group over an ALREADY-AGGREGATED value histogram
    * `(group, value, cnt)` — the walk itself: cumulative-sum window,
    * smallest value whose cumulative count reaches rank ⌈n/2⌉. Taking
    * the histogram as input lets derived distributions (e.g. q75's
    * absolute deviations) be computed histogram-from-histogram without
    * ever touching rows again. */
  def medianOfHist(hist: DataFrame, group: String, value: String,
      cnt: String): DataFrame = {
    val cum = Window.partitionBy(group).orderBy(value)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(group)
    hist
      .withColumn("cum", sum(cnt).over(cum))
      .withColumn("n", sum(cnt).over(all))
      .groupBy(group)
      .agg(max("n").as("__n"),
        min(when(col("cum") >= rankP50(col("n")), col(value)))
          .as("__med"))
  }

  // --------------------------------------- MAD robust outliers
  // Median-absolute-deviation outlier flags — the robust complement
  // of q61's z-score bands (a mean/stddev band is itself dragged by
  // the outliers it hunts; median/MAD is not). Two histogram-walk
  // medians (values, then absolute deviations) and one scan-local
  // flag pass, all in exact integer cents — no row ever sorts, no
  // float appears, so the oracle (textbook double-row_number form)
  // hashes identically.
  val qMadOutliers: Q = Q(
    "q75_mad_outliers",
    s"""WITH oc AS (
      |  SELECT n.n_name, ${Exact.centsSql("o.o_totalprice")} AS cents
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE o.o_totalprice IS NOT NULL),
      |r AS (
      |  SELECT n_name, cents,
      |    row_number() OVER (PARTITION BY n_name ORDER BY cents) AS rk,
      |    count(*) OVER (PARTITION BY n_name) AS n
      |  FROM oc),
      |med AS (
      |  SELECT n_name, CAST(max(n) AS BIGINT) AS n,
      |    max(CASE WHEN rk = (n+1)//2 THEN cents END) AS med
      |  FROM r GROUP BY n_name),
      |dev AS (
      |  SELECT o.n_name, abs(o.cents - m.med) AS ad
      |  FROM oc o JOIN med m USING (n_name)),
      |r2 AS (
      |  SELECT n_name, ad,
      |    row_number() OVER (PARTITION BY n_name ORDER BY ad) AS rk,
      |    count(*) OVER (PARTITION BY n_name) AS n
      |  FROM dev),
      |mad AS (
      |  SELECT n_name, max(CASE WHEN rk = (n+1)//2 THEN ad END) AS mad
      |  FROM r2 GROUP BY n_name),
      |flags AS (
      |  SELECT m.n_name, m.n, m.med, d.mad,
      |    sum(CASE WHEN abs(o.cents - m.med) > 3 * d.mad
      |        THEN 1 ELSE 0 END) AS n_outliers
      |  FROM oc o JOIN med m USING (n_name) JOIN mad d USING (n_name)
      |  GROUP BY m.n_name, m.n, m.med, d.mad)
      |SELECT n_name, n AS n_orders,
      |  ${Exact.dec2Sql("med")} AS p50,
      |  ${Exact.dec2Sql("mad")} AS mad,
      |  CAST(n_outliers AS BIGINT) AS n_outliers
      |FROM flags ORDER BY n_name""".stripMargin) { (s, d) =>
    // ONE row scan total: after the first histogram aggregation every
    // later stage (deviation distribution, MAD walk, outlier count) is
    // derived histogram-from-histogram — |ad| of a value bucket applies
    // to all `cnt` of its rows, so the deviation histogram is a
    // broadcast-join + re-bucket of the VALUE histogram, never a second
    // pass over the fact join. The persist covers the three
    // histogram-sized reuses (med walk, deviation derivation, flags).
    val hist = nationCents(s, d)
      .groupBy("n_name", "cents").agg(count(lit(1)).as("cnt"))
      .persist()
    val med = medianOfHist(hist, "n_name", "cents", "cnt")
      .select(col("n_name"), col("__n").as("n_orders"),
        col("__med").as("med"))
    val devHist = hist.join(broadcast(med), "n_name")
      .groupBy(col("n_name"), abs(col("cents") - col("med")).as("ad"))
      .agg(sum("cnt").as("cnt"))
    val mad = medianOfHist(devHist, "n_name", "ad", "cnt")
      .select(col("n_name"), col("__med").as("mad"))
    hist.join(broadcast(med), "n_name").join(broadcast(mad), "n_name")
      .groupBy("n_name")
      .agg(max("n_orders").as("n_orders"), max("med").as("medc"),
        max("mad").as("madc"),
        sum(when(abs(col("cents") - col("med")) > col("mad") * 3,
          col("cnt")).otherwise(0L)).as("n_outliers"))
      .select(col("n_name"), col("n_orders"),
        Exact.dec2(col("medc")).as("p50"),
        Exact.dec2(col("madc")).as("mad"),
        col("n_outliers"))
      .orderBy("n_name")
  }

  // ------------------------------------------- percentile sketch
  // Mergeable one-pass quantile sketch for high-cardinality value
  // domains where the exact histogram would itself be shuffle-heavy:
  // HdrHistogram-style integer LOG-BINNING — values below 2^(k+1) are
  // their own bucket; above, a bucket is (octave, top-k-bits), so the
  // bucket lower bound under-estimates the true value by at most
  // 2^-k (k=6 → ≤1.6% relative error). Versus the earlier GK
  // (percentile_approx) carrier this sketch is deterministic
  // (GK merge results depend on partial-buffer arrival order),
  // trivially mergeable at 100 TB (bucket counts ADD — a per-shard
  // groupBy then a sum, no sketch-merge protocol), bounded at
  // ~2^k·octaves rows, and integer-exact end to end — which is what
  // makes the DuckDB oracle possible. QuantilesSpec bounds the
  // relative value error against the exact answer.
  val SubBucketBits = 6

  private def q48OracleSql: String = {
    val k = SubBucketBits
    s"""WITH oc AS (
      |  SELECT n.n_name, ${Exact.centsSql("o.o_totalprice")} AS cents
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE o.o_totalprice IS NOT NULL),
      |b1 AS (SELECT n_name, cents, abs(cents) AS av,
      |              length(bin(abs(cents))) - 1 AS e FROM oc),
      |bx AS (
      |  SELECT n_name,
      |    CASE WHEN cents < 0 THEN -1 ELSE 1 END *
      |    CASE WHEN e <= $k THEN av
      |         ELSE (e - $k) * ${1L << k} + (av >> (e - $k)) END AS idx,
      |    CASE WHEN cents < 0 THEN -1 ELSE 1 END *
      |    CASE WHEN e <= $k THEN av
      |         ELSE (av >> (e - $k)) << (e - $k) END AS rep
      |  FROM b1),
      |sk AS (SELECT n_name, idx, count(*) AS cnt, max(rep) AS rep
      |       FROM bx GROUP BY 1, 2),
      |cum AS (
      |  SELECT *,
      |    sum(cnt) OVER (PARTITION BY n_name ORDER BY idx) AS cum,
      |    sum(cnt) OVER (PARTITION BY n_name) AS n
      |  FROM sk)
      |SELECT n_name, CAST(max(n) AS BIGINT) AS n_orders,
      |  ${Exact.dec2Sql("min(CASE WHEN cum >= (n+1)//2 THEN rep END)")}
      |    AS p50_approx,
      |  ${Exact.dec2Sql("min(CASE WHEN cum >= (n*95+99)//100 THEN rep END)")}
      |    AS p95_approx
      |FROM cum GROUP BY n_name ORDER BY n_name""".stripMargin
  }

  val qQuantileSketch: Q = Q("q48_quantile_sketch", q48OracleSql) {
    (s, d) =>
      val k = SubBucketBits
      // floor(log2 |v|) without libm: bit length of the binary
      // rendering. Sign-split: buckets index the MAGNITUDE and carry
      // the sign (idx stays monotone in the value; a negative bucket's
      // representative floors toward zero — |rep| ≤ |v| within 2^-k)
      val sign = when(col("cents") < 0, lit(-1L)).otherwise(lit(1L))
      val binned = nationCents(s, d)
        .withColumn("av", abs(col("cents")))
        .withColumn("e", length(bin(col("av"))) - 1)
        .select(col("n_name"),
          (sign * when(col("e") <= k, col("av")).otherwise(
            (col("e") - k).cast("long") * (1L << k) +
              call_function("shiftright", col("av"), col("e") - k)))
            .as("idx"),
          (sign * when(col("e") <= k, col("av")).otherwise(
            call_function("shiftleft",
              call_function("shiftright", col("av"), col("e") - k),
              col("e") - k))).as("rep"))
      // THE sketch: bucket counts (mergeable by addition); rep is a
      // function of idx so max() just carries it through the groupBy
      val sketch = binned.groupBy("n_name", "idx")
        .agg(count(lit(1)).as("cnt"), max("rep").as("rep"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("n_name").orderBy("idx")
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("n_name")
      // rank rules shared with the exact q47 (lower median, ceil ranks);
      // rep is monotone in idx, so min() over qualifying buckets is the
      // first bucket whose cumulative count crosses the rank
      sketch
        .withColumn("cum", sum("cnt").over(wOrd))
        .withColumn("n", sum("cnt").over(wAll))
        .groupBy("n_name")
        .agg(max("n").as("n_orders"),
          min(when(col("cum") >= rankP50(col("n")), col("rep")))
            .as("p50c"),
          min(when(col("cum") >= rankP95(col("n")), col("rep")))
            .as("p95c"))
        .select(col("n_name"), col("n_orders"),
          Exact.dec2(col("p50c")).as("p50_approx"),
          Exact.dec2(col("p95c")).as("p95_approx"))
        .orderBy("n_name")
  }

  // ------------------------------------------- decile binning
  // Bucket documents into length deciles for mixture weighting —
  // WITHOUT the naive global-sort `ntile(10)`: decile thresholds come
  // from the same cumulative histogram as q47 (shuffle is |distinct
  // n_chars|, bounded by the length domain, not |docs|), and bin
  // assignment is a scan-local comparison against the broadcast 9-row
  // threshold table. Unlike ntile, equal values always land in the
  // same bin (value-stable), which is what a reproducible mixture
  // needs. bin = 1 + |{k : th_k < n_chars}|.
  val qDecileBins: Q = Q(
    "q71_decile_bins",
    """WITH counts AS (
      |  SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
      |cum AS (
      |  SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS cc FROM counts),
      |tot AS (SELECT count(*) AS nn FROM documents),
      |th AS (SELECT u.k, min(n_chars) AS thv FROM cum CROSS JOIN tot
      |       CROSS JOIN unnest(range(1,10)) AS u(k)
      |       WHERE cc*10 >= u.k*nn GROUP BY u.k),
      |b AS (SELECT d.doc_id, d.n_chars, 1 + count(th.thv) AS bin
      |      FROM documents d LEFT JOIN th ON th.thv < d.n_chars
      |      GROUP BY 1, 2)
      |SELECT CAST(bin AS INTEGER) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    val docs = T(s, d, "documents").select(col("doc_id"), col("n_chars"))
    val counts = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
    // single-partition window over DISTINCT lengths only (same bounded-
    // cardinality argument as q47's histogram walk)
    val cum = counts.withColumn("cc",
      sum("c").over(Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = docs.groupBy().agg(count(lit(1)).as("nn"))
    val ks = s.range(1, 10).toDF("k")
    val th = cum.crossJoin(broadcast(tot))
      .join(broadcast(ks), col("cc") * 10 >= col("k") * col("nn"))
      .groupBy("k").agg(min("n_chars").as("thv"))
    docs.join(broadcast(th), col("thv") < col("n_chars"), "left")
      .groupBy("doc_id", "n_chars")
      .agg((count(col("thv")) + 1).cast("int").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        sum("n_chars").as("total_chars"))
      .orderBy("bin")
  }

  val all: Seq[Q] =
    Seq(qExactPercentiles, qQuantileSketch, qDecileBins, qMadOutliers)
}
