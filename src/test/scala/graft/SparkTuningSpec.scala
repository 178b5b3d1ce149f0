package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shipped session configuration [[SparkTuning]] applies.
  * There is one configuration and no switch to flip it, so nothing
  * else fails when a value drifts; each value below won a measured
  * A/B (the reasons live beside the settings in SparkTuning). */
class SparkTuningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sessions run in UTC (the timezone the oracles are checked in)") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("object-hash aggregation keeps a deep map before sorting") {
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      "65536")
  }

  test("file output committer stays at algorithm version 1") {
    assert(spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version") === "1")
  }

  test("timestamps write as INT64 micros, not legacy INT96") {
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") ===
      "TIMESTAMP_MICROS")
  }

  test("the generated-code cache holds 1000 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
  }

  test("the generated-code cache keeps a class across 120 others") {
    // a static conf set too late is ignored without a word, so pin the
    // behaviour: long literals are inlined, so each `id + i` plan
    // compiles its own classes; the first plan's must survive the other
    // 119 and run again without a compile
    def run(i: Int): Unit =
      spark.range(3).selectExpr(s"id + $i AS x").collect(): Unit
    (1 to 120).foreach(run)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    run(1)
    assert(compiles.getCount === before)
  }
}
