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
}
