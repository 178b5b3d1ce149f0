package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark

/** TopKAgg must equal the window-sort formulation regardless of how
  * rows are partitioned (partial/merge paths exercised). */
class TopKSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("agrees with window row_number top-k, including ties") {
    // 3 groups × 100 scored rows, with deliberate score ties
    val rows = for {
      g <- 1 to 3; i <- 1L to 100L
    } yield (g, (i % 10) / 10.0, i)   // scores cycle → many ties
    val df = rows.toDF("g", "score", "id").repartition(7)

    val topk = udaf(new TopKAgg(5))
    val viaAgg = df.groupBy("g")
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("g"), col("s.score"), col("s.id"),
        (col("pos") + 1).as("rnk"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getInt(3))).toSet

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id"))
    val viaWindow = df
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("g", "score", "id", "rnk")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getInt(3))).toSet

    assert(viaAgg == viaWindow)
  }

  test("seeded random sweep over k: agg equals window top-k for " +
      "every k, group shape, and partitioning (merge paths vary)") {
    val rnd = new scala.util.Random(20260816L)
    for (k <- Seq(1, 2, 3, 5, 10, 16)) {
      val nGroups = 1 + rnd.nextInt(5)
      val rows = for {
        g <- 1 to nGroups
        _ <- 1L to (k + rnd.nextInt(3 * k + 20)).toLong
      } yield (g, rnd.nextInt(7) / 7.0, rnd.nextLong(1000000L))
      // distinct ids per group: ties on score must break by id alone
      val df = rows.distinct.toDF("g", "score", "id")
        .repartition(1 + rnd.nextInt(9))
      val topk = udaf(new TopKAgg(k))
      val viaAgg = df.groupBy("g")
        .agg(topk(col("score"), col("id")).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("g"), col("s.score"), col("s.id"),
          (col("pos") + 1).as("rnk"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
          r.getInt(3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("score").desc, col("id"))
      val viaWindow = df
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select("g", "score", "id", "rnk")
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
          r.getInt(3))).toSet
      assert(viaAgg == viaWindow, s"k=$k")
    }
  }
}
