package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[NearDup.invertedPairCounts]] (groupBy-s + bounded doc-list +
  * in-group pair explosion) must be EXACTLY the classic df-capped
  * index self-join `a.s = b.s AND a.id < b.id` — pairs, intersection
  * counts, and per-doc sizes — on randomized indexes, including
  * groups at/above the df cap. */
class InvertedPairSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def referencePairs(rows: Seq[(Long, String)], maxDf: Int)
      : (Set[(Long, Long, Long)], Map[Long, Long]) = {
    val byShingle = rows.groupBy(_._2).filter(_._2.size <= maxDf)
    val kept = byShingle.values.flatten.toSeq
    val sizes = kept.groupBy(_._1).map { case (id, ss) =>
      id -> ss.size.toLong }
    val pairs = byShingle.values.toSeq.flatMap { docs =>
      val ids = docs.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        yield (ids(i), ids(j))
    }.groupBy(identity).map { case (p, xs) =>
      (p._1, p._2, xs.size.toLong) }.toSet
    (pairs, sizes)
  }

  test("inverted pair counts == index self-join on random indexes") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val maxDf = 1 + rnd.nextInt(6) // small cap so overflow happens
      val nDocs = 20 + rnd.nextInt(30)
      val vocab = (1 to 12).map(i => s"s$i")
      val rows = (1L to nDocs).flatMap { id =>
        rnd.shuffle(vocab).take(1 + rnd.nextInt(6)).map(s => (id, s))
      }.distinct
      val sh = rows.toDF("doc_id", "s")
      val (pairs, sizes, _, _) = NearDup.invertedPairCounts(sh, "doc_id", maxDf)
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gotSizes = sizes.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (expPairs, expSizes) = referencePairs(rows, maxDf)
      assert(got == expPairs, s"trial $trial pairs (maxDf=$maxDf)")
      assert(gotSizes == expSizes, s"trial $trial sizes (maxDf=$maxDf)")
    }
  }

  test("plan discipline: one index aggregation, no index self-join") {
    val sh = (1L to 100L).flatMap(id =>
      Seq("a", "b", "c").map(s => (id, s + (id % 7)))).toDF("doc_id", "s")
    val (pairs, _, _, _) = NearDup.invertedPairCounts(sh, "doc_id", 10)
    val plan = pairs.queryExecution.executedPlan.toString
    // bounded-set collection runs as a (partial-capable) object
    // aggregate on the shingle key…
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate in:\n$plan")
    // …and pair generation is an in-group explode — the index is never
    // joined against itself
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"expected no join operator in:\n$plan")
  }

  test("a_id < b_id and no self-pairs") {
    val sh = Seq((3L, "x"), (1L, "x"), (2L, "x")).toDF("doc_id", "s")
    val (pairs, _, _, _) = NearDup.invertedPairCounts(sh, "doc_id", 10)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (a, b) => a < b })
    assert(got.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}
