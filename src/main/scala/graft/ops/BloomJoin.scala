package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.Q

/** Bloom-filter semi-join — the runtime-filter pattern for the regime
  * where the dimension side is too big to broadcast as a hash relation
  * but its Bloom sketch (~10 bits/key vs 100+ bytes/row) still fits:
  *
  *  1. aggregate the dim keys into a Bloom filter (Catalyst's own
  *     `BloomFilterAggregate` — sketch merge is associative, so this
  *     is one map-side-combined agg, no key shuffle);
  *  2. pre-filter the fact scan with `BloomFilterMightContain` — a
  *     codegen'd scan-local probe that discards most non-matching rows
  *     BEFORE they reach the join shuffle;
  *  3. exact-verify the survivors with a real semi-join (removes the
  *     Bloom's false positives — the final result is exactly the
  *     semi-join, which is what the oracle checks).
  *
  * This is the same plan shape Spark's AQE `InjectRuntimeFilter` builds
  * internally for shuffle joins; expressed here as an explicit operator
  * so a pipeline can apply it where the optimizer can't prove it (e.g.
  * across materialization boundaries). The sketch collect is a bounded
  * scalar (1 MiB here regardless of fact size) — the same sanctioned
  * driver round-trip as [[Watermark]], re-injected as a literal so the
  * probe is a pure scan-local expression.
  */
object BloomJoin {

  /** Keys expected in the dim side (sizes the sketch; 1M keys at 8
    * bits/key ≈ 1 MiB, ~3% false-positive rate — FPs only cost verify
    * work, never correctness). */
  val EstKeys = 1000000L
  val NumBits = 8L * 1024 * 1024

  /** Clamp requested sketch parameters to Catalyst's
    * `BloomFilterAggregate` limits (the runtime-filter confs). A clamp
    * only LOWERS capacity — the false-positive rate rises and costs
    * verify work, never correctness. */
  private def clamp(df: DataFrame, estKeys: Long, numBits: Long)
      : (Long, Long) = {
    val conf = df.sparkSession.conf
    val maxItems = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
      .toLong
    val maxBits = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    (math.min(estKeys, maxItems), math.min(numBits, maxBits))
  }

  /** Build the Bloom sketch of `keys` (a LongType column) and return
    * it as a binary scalar. One job; the result is sketch-sized, not
    * data-sized. */
  def buildSketch(df: DataFrame, key: Column,
      estKeys0: Long = EstKeys, numBits0: Long = NumBits): Array[Byte] = {
    val (estKeys, numBits) = clamp(df, estKeys0, numBits0)
    val agg = GraftColumnBridge.column(
      new BloomFilterAggregate(
        GraftColumnBridge.expression(xxhash64(key)),
        Literal(estKeys), Literal(numBits)).toAggregateExpression())
    df.select(agg.as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Scan-local membership probe of `key` against a built sketch. */
  def mightContain(sketch: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(sketch),
      GraftColumnBridge.expression(xxhash64(key))))

  /** Bloom-prefiltered exact semi-join of `fact` against `dim` keys. */
  def semiJoin(fact: DataFrame, factKey: Column,
      dim: DataFrame, dimKey: Column): DataFrame = {
    val sketch = buildSketch(dim, dimKey)
    fact.filter(mightContain(sketch, factKey))
      .join(dim.select(dimKey.as("__bj_key")).distinct(),
        factKey === col("__bj_key"), "left_semi")
  }

  // Orders of customers in one market segment: the dim side is stood
  // in by the BUILDING-segment customers; at 100 TB this is the "fact
  // joins a 10^9-key dim" case where a rows-broadcast is impossible
  // but the sketch broadcast is free.
  val Segment = "BUILDING"

  // sideEffecting: buildSketch's .head() aggregates the full dim table
  // at DataFrame-BUILD time — plan-only tools (Explain) must skip it.
  val qBloomSemiJoin: Q = Q(
    name = "q69_bloom_semijoin",
    sideEffecting = true,
    oracle = Some(
      s"""SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  ${Exact.dec2Sql("sum(" + Exact.centsSql("o_totalprice") + ")")}
      |    AS total_price
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = '$Segment')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin),
    build = { (s, d) =>
      val dim = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === Segment)
      val fact = Tables.load(s, d, "orders")
      semiJoin(fact, col("o_custkey"), dim, col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          Exact.dec2(sum(Exact.cents(col("o_totalprice"))))
            .as("total_price"))
        .orderBy("o_orderpriority")
    })
}
