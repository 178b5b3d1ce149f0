package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark sessions are
  * expensive; ScalaTest suites run sequentially in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.SparkTuning.local("4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
