package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class QuantilesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  test("histogram percentile equals sort-and-index on every group") {
    // independent row-level recomputation (the oracle's form) in Spark
    val oc = graft.io.Tables.load(spark, Dir, "orders")
      .join(graft.io.Tables.load(spark, Dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.io.Tables.load(spark, Dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), graft.ops.Exact.cents(col("o_totalprice"))
        .as("cents"))
    val w = Window.partitionBy("n_name").orderBy("cents")
    val expect = oc
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("n_name")))
      .groupBy("n_name")
      .agg(
        max(when(col("rk") === graft.ops.Exact.floorDiv(col("n") + 1,
          lit(2L)), col("cents"))).as("p50c"),
        max(when(col("rk") === graft.ops.Exact.floorDiv(col("n") * 95 + 99,
          lit(100L)), col("cents"))).as("p95c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

    val got = Quantiles.qExactPercentiles.build(spark, Dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (e50, e95) = expect(r.getString(0))
      assert(new java.math.BigDecimal(r.getString(2))
        .movePointRight(2).longValueExact == e50)
      assert(new java.math.BigDecimal(r.getString(3))
        .movePointRight(2).longValueExact == e95)
    }
  }

  test("sketch percentiles: exact rank bucket, ≤2^-k relative error") {
    // the log-binned sketch's guarantee is a VALUE bound: the answer
    // is the lower bound of the bucket CONTAINING the exact rank-target
    // value v*, so rep ∈ (v*·(1 − 2^-k), v*]. Assert exactly that —
    // rank error is not this sketch's contract (it depends on value
    // density around the quantile, unlike GK).
    val groups = graft.io.Tables.load(spark, Dir, "orders")
      .join(graft.io.Tables.load(spark, Dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.io.Tables.load(spark, Dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), graft.ops.Exact.cents(col("o_totalprice"))
        .as("cents"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    val sketch = Quantiles.qQuantileSketch.build(spark, Dir).collect()
    assert(sketch.length == groups.size)
    val relErr = 1.0 / (1 << Quantiles.SubBucketBits)
    sketch.foreach { r =>
      val cents = groups(r.getString(0))
      val n = cents.length
      // same rank rules as the exact q47: lower median, ceil ranks
      val v50 = cents((n + 1) / 2 - 1)
      val v95 = cents(((n * 95 + 99) / 100 - 1).toInt)
      val rep50 = new java.math.BigDecimal(r.getString(2))
        .movePointRight(2).longValueExact
      val rep95 = new java.math.BigDecimal(r.getString(3))
        .movePointRight(2).longValueExact
      assert(rep50 <= v50 && rep50 > v50 * (1.0 - relErr) - 1,
        s"p50 rep=$rep50 exact=$v50")
      assert(rep95 <= v95 && rep95 > v95 * (1.0 - relErr) - 1,
        s"p95 rep=$rep95 exact=$v95")
    }
  }

  test("sketch plan orders buckets, never raw fact rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort, Window => LWindow}
    // same scale discipline as the exact path: the cumulative walk and
    // final ORDER BY operate on the BUCKETED sketch (≤ ~2^6·octaves
    // rows per group), so every Window/Sort must sit above the bucket
    // Aggregate — a formulation that windows or sorts the raw join
    // output would put one below and fail here
    val lp = Quantiles.qQuantileSketch.build(spark, Dir)
      .queryExecution.optimizedPlan
    val ordering = lp.collect {
      case w: LWindow => w.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
      case s: Sort => s.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    }
    assert(ordering.nonEmpty)
    ordering.foreach { node =>
      assert(node.collect { case a: Aggregate => a }.nonEmpty,
        s"ordering operator below the bucket aggregate:\n$node")
    }
  }

  test("exact plan aggregates the histogram, not sorted rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort, Window => LWindow}
    val lp = Quantiles.qExactPercentiles.build(spark, Dir)
      .queryExecution.optimizedPlan
    // the scale discipline: percentiles come from the (n_name, cents)
    // HISTOGRAM — every row-ordering operator (Window, Sort) must sit
    // ABOVE the histogram Aggregate, i.e. order |distinct cents| rows,
    // never the raw fact rows. A row_number-over-raw-rows
    // re-formulation puts a Window with no Aggregate below it; a
    // raw-row sort puts a Sort with no Aggregate below it — both fail
    // here.
    val ordering = lp.collect {
      case w: LWindow => ("Window", w.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
      case s: Sort => ("Sort", s.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
    }
    assert(ordering.nonEmpty)
    ordering.foreach { case (kind, node) =>
      assert(node.collect { case a: Aggregate => a }.nonEmpty,
        s"$kind operates on unaggregated fact rows")
    }
  }

  test("decile bins cover all docs, are value-stable, and near-even") {
    val bins = Quantiles.qDecileBins.build(spark, Dir).collect()
    val docs = graft.io.Tables.load(spark, Dir, "documents")
    val n = docs.count()
    assert(bins.map(_.getLong(1)).sum == n) // partition of the corpus
    // bins are ordered, non-overlapping ranges
    val sorted = bins.sortBy(_.getInt(0))
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(3) < b.getLong(2)) // max < next min
      case _ =>
    }
    // near-even: every bin within 3x of the ideal tenth (ties can skew)
    sorted.foreach { r =>
      assert(r.getLong(1) <= (n / 10) * 3 + 10, s"bin ${r.getInt(0)}")
    }
    // value-stable: same n_chars can never straddle two bins — implied
    // by non-overlapping [min,max] ranges above
  }

  test("MAD outliers match brute-force medians and resist an outlier") {
    val rows = Quantiles.qMadOutliers.build(spark, Dir).collect()
    assert(rows.nonEmpty)
    // brute-force recompute of one group
    val name = rows.head.getString(0)
    val cents = graft.io.Tables.load(spark, Dir, "orders")
      .join(graft.io.Tables.load(spark, Dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.io.Tables.load(spark, Dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === name)
      .select(graft.ops.Exact.cents(col("o_totalprice")))
      .collect().map(_.getLong(0)).sorted
    def lowerMed(xs: Array[Long]) = xs((xs.length + 1) / 2 - 1)
    val med = lowerMed(cents)
    val mad = lowerMed(cents.map(c => math.abs(c - med)).sorted)
    val got = rows.find(_.getString(0) == name).get
    assert(new java.math.BigDecimal(got.getString(2))
      .movePointRight(2).longValueExact() == med)
    assert(new java.math.BigDecimal(got.getString(3))
      .movePointRight(2).longValueExact() == mad)
    assert(got.getLong(4) ==
      cents.count(c => math.abs(c - med) > 3 * mad))

    // robustness: one absurd value barely moves median/MAD
    val spiked = (cents :+ Long.MaxValue / 1000).sorted
    val med2 = lowerMed(spiked)
    assert(math.abs(med2 - med) <= math.abs(cents.max - med) / 10,
      "median dragged by a single outlier")
  }
}
