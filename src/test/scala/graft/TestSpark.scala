package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark sessions are
  * expensive; ScalaTest suites run sequentially in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.SparkTuning(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
