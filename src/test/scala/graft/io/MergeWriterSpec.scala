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
    // opt-out for callers that pre-dedup: no failure, both rows land
    val unchecked = MergeWriter.merge(existing, updates, "k",
      checkUniqueKeys = false)
    assert(unchecked.count() == 3)
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

  test("upsert with deleteWhen on a partitioned table removes a deleted " +
      "key's row from a carried-over partition") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-upsert-del")
    val store = new ModelStore(root.toString)
    val del = Some(col("op") <=> "DELETE")
    def upsert(rows: (String, Int, String, String)*): Unit =
      MergeWriter.upsert(store, store.read(spark, "s", "t"),
        rows.toDF("k", "p", "v", "op"), "s", "t", "k",
        partitionBy = Seq("p"), deleteWhen = del)
    def state = store.read(spark, "s", "t").get.select("k", "p", "v")
      .as[(String, Int, String)].collect().toSet
    def files(v: Int, part: String) = Option(new java.io.File(
        s"${store.versionDir("s", "t", v)}/$part").list)
      .toSeq.flatten.filter(_.endsWith(".parquet")).toSet
    upsert(("a", 1, "a1", "INSERT"), ("b", 2, "b1", "INSERT"),
      ("c", 3, "c1", "INSERT"))
    // a's DELETE envelope carries p=2, not the partition a lives in;
    // nothing is inserted into p=1, so only a's residence touches it
    upsert(("a", 2, null, "DELETE"), ("b", 2, "b2", "UPDATE"),
      ("d", 3, "d1", null))   // a NULL op is not a delete
    assert(state == Set(("b", 2, "b2"), ("c", 3, "c1"), ("d", 3, "d1")))
    assert(store.currentVersion(spark, "s", "t") == 2)
    assert(files(2, "p=1").isEmpty)
    // pruned, not a full rewrite: an untouched partition carries over
    upsert(("e", 4, "e1", "INSERT"))
    assert(files(3, "p=3").nonEmpty && files(3, "p=3") == files(2, "p=3"))
  }
}
