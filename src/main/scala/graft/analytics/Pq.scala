package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Q

/** Product quantization (Jégou/Douze/Schmid, TPAMI 2011) over the IVF
  * residuals — the memory-side lever of IVF-PQ ANN serving: each
  * vector's residual (vector − its coarse centroid) splits into
  * [[NumSub]] subvectors, each encoded as one byte-sized code into a
  * per-subspace codebook, so a 64-dim 8-byte-per-dim posting becomes
  * [[NumSub]] codes (64× smaller) and search scores candidates from a
  * per-query distance TABLE (ADC — asymmetric distance computation)
  * instead of touching raw vectors.
  *
  * Everything is exact integer arithmetic end-to-end: vectors are
  * already quantized to milli-units ([[VectorOps.quantize]]), so
  * residuals, codebook assignment (squared L2 = sn2 + c_n2 − 2·dot,
  * argmin with ties to the smaller code), and the final ADC distances
  * are all BIGINT — the DuckDB oracle replays codebook training,
  * encoding, and ADC bit-exactly (the q32 trained-centroid technique
  * extended one tier down). The one double step is the Lloyd mean
  * (sum/count, round to scale 0), the same cross-engine-stable shape
  * the coarse k-means update already uses.
  *
  * Scale shape: codebooks are NumSub×[[NumCodes]] rows (broadcast
  * everywhere), training/encoding are one explode + two hash
  * aggregations per Lloyd round over scan-local subvectors, the
  * per-query distance table is NumSub×NumCodes×nprobe rows (built
  * from broadcasts, no shuffle wider than |queries|), and candidate
  * scoring joins postings' CODES — NumSub small ints per vector —
  * never the vectors themselves. At 100 TB that is the difference
  * between postings that fit in executor memory and postings that
  * don't.
  */
object Pq {

  /** Subspaces per vector: 64 dims → 8 × 8-dim subvectors. */
  val NumSub = 8

  /** Dims per subspace (NumSub × SubDim must equal the corpus dim). */
  val SubDim = 8

  /** Codes per subspace codebook (16 ⇒ 4-bit codes; kept small so the
    * oracle's unrolled training chain stays tractable — production
    * uses 256 with the identical shape). */
  val NumCodes = 16

  /** Lloyd rounds for codebook training (unrolled in the oracle). */
  val PqIters = 2

  /** (vec_id, c_id, r): integer residual vector − coarse centroid. */
  def residuals(assigned: DataFrame, cents: DataFrame): DataFrame =
    assigned.join(broadcast(cents), Seq("c_id"))
      .select(col("vec_id"), col("c_id"),
        zip_with(col("qv"), col("c_qv"), (a, b) => a - b).as("r"))

  /** Explode residuals into (vec_id, c_id, m, sub, sn2) — one row per
    * subspace, scan-local (no shuffle). Geometry defaults to the
    * oracle-tractable constants; the production shape (16×4-dim
    * subspaces, 256 codes) runs the identical plan with the explicit
    * arguments (PqSpec proves it at the production constants). */
  def subspaces(res: DataFrame, numSub: Int = NumSub,
      subDim: Int = SubDim): DataFrame =
    res.select(col("vec_id"), col("c_id"),
        explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("r"))
      .select(col("vec_id"), col("c_id"), col("m"),
        slice(col("r"), col("m") * subDim + lit(1), lit(subDim))
          .as("sub"))
      .withColumn("sn2", VectorOps.norm2Q(col("sub")))

  /** Nearest-code assignment per (vector, subspace): argmin exact
    * integer squared L2, ties to the smaller code. The codebook is
    * NumSub×NumCodes rows — always broadcast. */
  def assignCodes(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("c_id"), col("m"), col("sub"),
        col("sn2"), col("code"),
        (col("sn2") + col("c_n2") -
          lit(2L) * VectorOps.dotQ(col("sub"), col("c_sub"))).as("d"))
      .groupBy("vec_id", "m")
      .agg(first("c_id").as("c_id"), first("sub").as("sub"),
        first("sn2").as("sn2"),
        min_by(col("code"), struct(col("d"), col("code"))).as("code"))

  /** One codebook row (bounded: NumSub × NumCodes of them ever). */
  final case class PqCode(m: Int, code: Long, c_sub: Seq[Long],
      c_n2: Long)

  /** Train the per-subspace codebooks: Lloyd rounds with integer-L2
    * assignment and rounded-mean update (all subspaces in one
    * DataFrame, keyed by `m`). Deterministic: seeded from the first
    * [[NumCodes]] vec_ids' subvectors, fixed iteration count.
    *
    * Each round's result is collected to the driver and re-planted as
    * a local relation: the codebook is ≤ NumSub×NumCodes rows BY
    * DESIGN CONSTANT (the bounded-collect discipline of the probe-cell
    * lists), and a local relation keeps every downstream broadcast
    * join one job shallower than a checkpointed distributed plan. */
  def trainCodebooks(subs: DataFrame, numCodes: Int = NumCodes,
      iters: Int = PqIters): DataFrame = {
    val spark = subs.sparkSession
    import spark.implicits._
    // train on the same deterministic 1/4 hash sample the coarse
    // k-means uses (quantizers train on a corpus subset — standard
    // practice; seed rows kept so init is unchanged); ENCODING of the
    // full corpus happens in the caller, unsampled
    val train = subs.filter(
      pmod(xxhash64(col("vec_id")), lit(4L)) === 0L ||
        col("vec_id") < numCodes)
    var cb = subs.filter(col("vec_id") < numCodes)
      .select(col("m"), col("vec_id").as("code"),
        col("sub").as("c_sub"), col("sn2").as("c_n2"))
    for (_ <- 0 until iters) {
      val rows = assignCodes(train, cb)
        .select(col("m"), col("code"),
          posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy("m", "code", "pos").agg(avg("v").as("mean"))
        .groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mean"))))
          .as("pm"))
        .select(col("m"), col("code"),
          transform(col("pm"), x => round(x("mean")).cast("long"))
            .as("c_sub"))
        .collect()
        .map(r => PqCode(r.getInt(0), r.getLong(1),
          r.getSeq[Long](2), r.getSeq[Long](2).map(x => x * x).sum))
      cb = spark.createDataset(rows.toSeq).toDF()
    }
    cb
  }

  /** ADC top-k ranking against probed cells: per (query, probed cell)
    * build the distance table (subspace × code → partial squared L2 of
    * the QUERY residual to that code's centroid), then score each
    * candidate as the sum of its codes' table entries. Candidates
    * contribute ONLY their codes (`codes` = (c_id, vec_id, m, code)) —
    * raw posting vectors are never touched, which is the whole point
    * of the PQ artifact. */
  def adcRank(probes: DataFrame, cents: DataFrame, cb: DataFrame,
      codes: DataFrame, topK: Int, numSub: Int = NumSub,
      subDim: Int = SubDim): DataFrame = {
    val qsubs = subspaces(
      probes.join(broadcast(cents), Seq("c_id"))
        .select(col("q_id").as("vec_id"), col("c_id"),
          zip_with(col("q_qv"), col("c_qv"), (a, b) => a - b).as("r")),
      numSub, subDim)
      .withColumnRenamed("vec_id", "q_id")
    val dtab = qsubs.join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("c_id"), col("m"), col("code"),
        (col("sn2") + col("c_n2") -
          lit(2L) * VectorOps.dotQ(col("sub"), col("c_sub"))).as("pd"))
    import org.apache.spark.sql.expressions.Window
    // dtab is |queries|·nprobe·NumSub·NumCodes rows BY CONSTRUCTION —
    // broadcast it so the (large) candidate-code stream never shuffles
    codes.select(col("c_id"), col("vec_id"), col("m"), col("code"))
      .join(broadcast(probes.select("q_id", "c_id")), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(dtab), Seq("q_id", "c_id", "m", "code"))
      .groupBy("q_id", "vec_id").agg(sum("pd").as("adc_dist"))
      .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("adc_dist"), col("vec_id"))).cast("int"))
      .filter(col("rnk") <= topK)
  }

  /** In-memory ADC search (queries drawn from the corpus, as in q32):
    * probe cells, then [[adcRank]] over the encoded corpus. */
  def adcSearch(assigned: DataFrame, cents: DataFrame, cb: DataFrame,
      enc: DataFrame, numQueries: Int, topK: Int,
      numSub: Int = NumSub, subDim: Int = SubDim): DataFrame = {
    val probes = VectorOps.ivfProbeCells(
      assigned.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("n2").as("q_n2")),
      cents).localCheckpoint()
    adcRank(probes, cents, cb,
      enc.select("c_id", "vec_id", "m", "code"), topK, numSub, subDim)
  }

  /** ADC shortlist depth for the re-rank stage (4× the final k — the
    * standard IVF-PQ serving ratio: wide enough to recover the
    * neighbors ADC's quantization error mis-ranks, narrow enough that
    * the exact stage touches a constant number of raw vectors). */
  val RerankDepth = 40

  /** Two-stage IVF-PQ serving: ADC shortlists [[RerankDepth]]
    * candidates per query from CODES ONLY, then exactly re-ranks just
    * the shortlist on raw vectors (one partition-pruned lookup of
    * `shortlistR` rows per query — the only point raw postings are
    * touched). Distances are exact integer squared L2 end-to-end, so
    * the re-rank recovers every ADC quantization mis-ranking inside
    * the shortlist. Output: (q_id, vec_id, d2, rnk). */
  def adcRerank(probes: DataFrame, cents: DataFrame, cb: DataFrame,
      codes: DataFrame, postings: DataFrame, shortlistR: Int,
      topK: Int, numSub: Int = NumSub, subDim: Int = SubDim)
      : DataFrame = {
    val short = adcRank(probes, cents, cb, codes, shortlistR,
      numSub, subDim)
      .select(col("q_id"), col("vec_id"))
    val q = probes.select("q_id", "q_qv", "q_n2").distinct()
    import org.apache.spark.sql.expressions.Window
    // the shortlist is |queries|·shortlistR rows by construction —
    // broadcast it against the (large) postings so the exact stage is
    // one build-side-tiny hash join, not a postings-wide shuffle
    broadcast(short)
      .join(postings.select("vec_id", "qv", "n2"), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (col("q_n2") + col("n2") -
          lit(2L) * VectorOps.dotQ(col("q_qv"), col("qv"))).as("d2"))
      .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("d2"), col("vec_id"))).cast("int"))
      .filter(col("rnk") <= topK)
  }

  // --------------------------------------------- DuckDB oracle SQL
  // The q32 trained-centroid replica extended one tier down: coarse
  // chain (base/cents/assigned CTEs), residual + subspace explode,
  // PqIters unrolled codebook rounds (integer-L2 assignment, rounded
  // mean), encoding, coarse probe cells, per-(query, cell) distance
  // table, ADC sum. CTE-structured so each stage's text appears once.
  private def subDotSql(a: String, b: String): String =
    s"(SELECT sum(u.a*u.b) FROM (SELECT unnest($a) a, unnest($b) b) u)"
  private def pqAssignSql(subs: String, cb: String): String =
    s"SELECT vec_id, c_id, m, sub, sn2, code FROM (" +
      s"SELECT s.vec_id, s.c_id, s.m, s.sub, s.sn2, k.code, " +
      s"row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY " +
      s"s.sn2 + k.c_n2 - 2*${subDotSql("s.sub", "k.c_sub")}, k.code) " +
      s"AS rk FROM $subs s JOIN $cb k ON k.m = s.m) WHERE rk = 1"
  private def pqUpdateSql(asg: String): String =
    s"SELECT m, code, c_sub, (SELECT sum(u.a*u.a) FROM (SELECT " +
      s"unnest(c_sub) a) u) AS c_n2 FROM (" +
      s"SELECT m, code, list(mm ORDER BY pos) AS c_sub FROM (" +
      s"SELECT m, code, p.pos, CAST(round(CAST(sum(sub[p.pos]) AS " +
      s"DOUBLE)/count(*)) AS BIGINT) AS mm FROM $asg a CROSS JOIN " +
      s"(SELECT unnest(generate_series(1, $SubDim)) AS pos) p " +
      s"GROUP BY m, code, p.pos) GROUP BY m, code)"

  /** Shared oracle prelude: everything through the `adc` relation —
    * q112 ranks it directly; q114 shortlists it and re-ranks exactly. */
  private lazy val pqOraclePrelude: String = {
    val (centsSql, assignedSql) = VectorOps.trainedSql
    val hx = graft.ops.DuckHash.chain(
      "SELECT vec_id AS hid FROM embeddings", "hid")
    val cbCtes = {
      val sb = new StringBuilder
      // training sample: the coarse chain's 1/4 xxhash64 gate, seeds kept
      sb ++= s"tsubs AS (SELECT s.* FROM subsn s JOIN ($hx) h " +
        s"ON s.vec_id = h.hid WHERE ((h.xxh % 4) + 4) % 4 = 0 " +
        s"OR s.vec_id < $NumCodes)"
      sb ++= s",\ncb0 AS (SELECT m, vec_id AS code, sub AS c_sub, " +
        s"sn2 AS c_n2 FROM subsn WHERE vec_id < $NumCodes)"
      for (i <- 0 until PqIters) {
        sb ++= s",\nasg$i AS (${pqAssignSql("tsubs", s"cb$i")})"
        sb ++= s",\ncb${i + 1} AS (${pqUpdateSql(s"asg$i")})"
      }
      sb.toString
    }
    val cbF = s"cb$PqIters"
    s"""WITH base AS (${VectorOps.baseNSql}),
      |cents AS ($centsSql),
      |assigned AS ($assignedSql),
      |res AS (
      |  SELECT a.vec_id, a.c_id,
      |    list_transform(generate_series(1, len(a.qv)),
      |      i -> a.qv[i] - c.c_qv[i]) AS r
      |  FROM assigned a JOIN cents c USING (c_id)),
      |subsn AS (
      |  SELECT vec_id, c_id, u.m,
      |    r[(u.m*$SubDim+1):(u.m*$SubDim+$SubDim)] AS sub,
      |    (SELECT sum(x.a*x.a) FROM (SELECT
      |      unnest(r[(u.m*$SubDim+1):(u.m*$SubDim+$SubDim)]) a) x)
      |      AS sn2
      |  FROM res CROSS JOIN (SELECT
      |    unnest(generate_series(0, ${NumSub - 1})) AS m) u),
      |$cbCtes,
      |enc AS (${pqAssignSql("subsn", cbF)}),
      |cells AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT b.vec_id AS q_id, c.c_id,
      |      row_number() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${VectorOps.cosSql("b.qv", "c.c_qv", "b.n2",
               "c.c_n2")} DESC, c.c_id) AS rk
      |    FROM base b CROSS JOIN cents c
      |    WHERE b.vec_id < ${VectorOps.NumQueries})
      |  WHERE rk <= ${VectorOps.NumProbes}),
      |qres AS (
      |  SELECT j.q_id, j.c_id,
      |    list_transform(generate_series(1, len(b.qv)),
      |      i -> b.qv[i] - c.c_qv[i]) AS r
      |  FROM cells j JOIN base b ON b.vec_id = j.q_id
      |  JOIN cents c ON c.c_id = j.c_id),
      |qsubs AS (
      |  SELECT q_id, c_id, u.m,
      |    r[(u.m*$SubDim+1):(u.m*$SubDim+$SubDim)] AS sub,
      |    (SELECT sum(x.a*x.a) FROM (SELECT
      |      unnest(r[(u.m*$SubDim+1):(u.m*$SubDim+$SubDim)]) a) x)
      |      AS sn2
      |  FROM qres CROSS JOIN (SELECT
      |    unnest(generate_series(0, ${NumSub - 1})) AS m) u),
      |dtab AS (
      |  SELECT s.q_id, s.c_id, s.m, k.code,
      |    s.sn2 + k.c_n2 - 2*${subDotSql("s.sub", "k.c_sub")} AS pd
      |  FROM qsubs s JOIN $cbF k ON k.m = s.m),
      |cand AS (
      |  SELECT j.q_id, j.c_id, a.vec_id
      |  FROM cells j JOIN assigned a ON a.c_id = j.c_id
      |  WHERE a.vec_id <> j.q_id),
      |adc AS (
      |  SELECT c.q_id, c.vec_id, CAST(sum(d.pd) AS BIGINT) AS adc_dist
      |  FROM cand c
      |  JOIN enc e ON e.vec_id = c.vec_id
      |  JOIN dtab d ON d.q_id = c.q_id AND d.c_id = c.c_id
      |    AND d.m = e.m AND d.code = e.code
      |  GROUP BY 1, 2)""".stripMargin
  }

  val qPqAnn: Q = Q(
    "q112_pq_ann",
    s"""$pqOraclePrelude
      |SELECT q_id, vec_id, adc_dist, CAST(rnk AS INTEGER) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |  ORDER BY adc_dist, vec_id) AS rnk FROM adc) t
      |WHERE rnk <= ${VectorOps.TopK} ORDER BY q_id, rnk""".stripMargin) {
    (s, d) =>
      // coarse tier from the shared staleness-keyed artifact store
      // (AnnIndex.tierArtifacts): the centroids/assignment this
      // chain needs are bit-identical to what q32/q91/q113 already
      // persisted for this corpus (deterministic training, content
      // fingerprint), so the PQ TRAINING query — whose contract is
      // training the PQ tier, not the coarse one — reads them instead
      // of re-running the k-means. The PQ codebooks + encoding still
      // train fresh in-memory every run; the stored postings relation
      // carries exactly the (c_id, vec_id, qv, n2) the residual chain
      // consumes.
      val (cents0, postings) =
        AnnIndex.tierArtifacts(s, d, AnnIndex.pinned)
      val cents = cents0.persist()
      val assigned = postings.persist()
      val subs = subspaces(residuals(assigned, cents)).persist()
      val cb = trainCodebooks(subs).persist()
      val enc = assignCodes(subs, cb)
      adcSearch(assigned, cents, cb, enc,
        VectorOps.NumQueries, VectorOps.TopK)
        .orderBy("q_id", "rnk")
  }.copy(sideEffecting = true)

  /** Oracle for the two-stage (shortlist + exact re-rank) serving
    * path: q112's chain extended with the shortlist and an exact
    * raw-vector re-rank — both integer, so the recall-recovery stage
    * is hash-certified too. Carried by [[AnnIndex.qPqRerank]] (the
    * persisted serving query, which provably equals this chain). */
  private[analytics] lazy val rerankOracle: String =
    s"""$pqOraclePrelude,
      |short AS (
      |  SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (
      |    PARTITION BY q_id ORDER BY adc_dist, vec_id) AS srk
      |    FROM adc) WHERE srk <= $RerankDepth),
      |rr AS (
      |  SELECT s.q_id, s.vec_id,
      |    CAST(qb.n2 + xb.n2 - 2*${subDotSql("qb.qv", "xb.qv")}
      |      AS BIGINT) AS d2
      |  FROM short s JOIN base qb ON qb.vec_id = s.q_id
      |  JOIN base xb ON xb.vec_id = s.vec_id)
      |SELECT q_id, vec_id, d2, CAST(rnk AS INTEGER) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |  ORDER BY d2, vec_id) AS rnk FROM rr) t
      |WHERE rnk <= ${VectorOps.TopK} ORDER BY q_id, rnk""".stripMargin

  val all: Seq[Q] = Seq(qPqAnn)
}
