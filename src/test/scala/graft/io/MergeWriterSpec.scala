package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Merge-emulation invariants (SURVEY.md §5.2): upsert semantics,
  * idempotent re-merge, sync_all_columns schema evolution. */
class MergeWriterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("matched rows replaced, unmatched kept, new inserted") {
    val existing = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val updates = Seq(("b", 20), ("c", 30)).toDF("k", "v")
    val merged = MergeWriter.merge(existing, updates, "k")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(merged == Map("a" -> 1, "b" -> 20, "c" -> 30))
  }

  test("re-merging the same updates is idempotent") {
    val existing = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val updates = Seq(("b", 20)).toDF("k", "v")
    val once = MergeWriter.merge(existing, updates, "k")
    val twice = MergeWriter.merge(once, updates, "k")
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("sync_all_columns: added column null-backfilled, dropped removed") {
    val existing = Seq(("a", 1, "stale"), ("b", 2, "stale"))
      .toDF("k", "v", "old_col")
    val updates = Seq(("b", 20, true)).toDF("k", "v", "new_col")
    val merged = MergeWriter.merge(existing, updates, "k")
    assert(merged.columns.toSeq == Seq("k", "v", "new_col"))
    val byK = merged.collect().map(r => r.getString(0) -> r).toMap
    assert(byK("a").isNullAt(2))          // backfilled
    assert(byK("b").getBoolean(2))
  }

  test("duplicate merge keys in one batch fail fast (Delta contract)") {
    val existing = Seq(("a", 1)).toDF("k", "v")
    val updates = Seq(("b", 20), ("b", 21)).toDF("k", "v")
    val ex = intercept[Exception] {
      MergeWriter.merge(existing, updates, "k").collect()
    }
    assert(ex.getMessage.contains("duplicate merge key"))
  }

  test("NULL merge key: the update REPLACES the stored NULL-key row " +
      "instead of accumulating one copy per run") {
    import org.apache.spark.sql.functions.col
    val existing = Seq((Option("a"), 1), (Option.empty[String], 2))
      .toDF("k", "v")
    val updates = Seq((Option.empty[String], 20)).toDF("k", "v")
    val merged = MergeWriter.merge(existing, updates, "k")
    assert(merged.count() == 2)
    val nullRows = merged.filter(col("k").isNull).collect()
    assert(nullRows.length == 1 && nullRows(0).getInt(1) == 20)
    // the accumulation bug: a second incremental run must still hold
    // exactly one NULL-key row
    val again = MergeWriter.merge(merged, updates, "k")
    assert(again.filter(col("k").isNull).count() == 1)
  }

  test("type sync: existing column cast to the updates' type") {
    val existing = Seq(("a", 1)).toDF("k", "v")
    val updates = Seq(("b", 2L)).toDF("k", "v")
    val merged = MergeWriter.merge(existing, updates, "k")
    assert(merged.schema("v").dataType.typeName == "long")
    assert(merged.collect().map(_.getLong(1)).toSet == Set(1L, 2L))
  }

  test("upsert evaluates its updates once, on the full and the pruned " +
      "arm") {
    import org.apache.spark.sql.functions.{col, udf}
    Seq(Nil, Seq("p")).foreach { partitionBy =>
      val store = new ModelStore(java.nio.file.Files
        .createTempDirectory("graft-upsert-once").toString)
      store.write(Seq(("a", 1, "a1"), ("b", 2, "b1")).toDF("k", "p", "v"),
        "s", "t", partitionBy)
      // every reader of the updates (discovery, empty probe, merge
      // write) must hit the one persisted copy: each evaluation of the
      // updates plan passes each row it reads through the counting
      // filter once (a filter, so no reader's column pruning drops it)
      val seen = spark.sparkContext.longAccumulator("upsert-update-rows")
      val tap = udf { (_: String) => seen.add(1); true }.asNondeterministic()
      val updates = Seq(("a", 1, "a2"), ("c", 3, "c1"), ("d", 3, "d1"))
        .toDF("k", "p", "v").repartition(col("k"))
        .filter(tap(col("k")))
      MergeWriter.upsert(store, store.read(spark, "s", "t"), updates,
        "s", "t", "k", partitionBy = partitionBy)
      assert(seen.value == 3L,
        s"partitionBy=$partitionBy: update rows evaluated ${seen.value} " +
          "times")
      assert(store.read(spark, "s", "t").get.select("k", "p", "v")
        .as[(String, Int, String)].collect().toSet ==
        Set(("a", 1, "a2"), ("b", 2, "b1"), ("c", 3, "c1"), ("d", 3, "d1")))
    }
  }
}
