package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.AnnIndex
import graft.io.{ModelStore, Tables}

/** Guards the one retention policy: every commit keeps
  * [[ModelStore.RetainVersions]] versions of its table, and no writer
  * outside the store repeats or tunes that choice. */
class RetentionPolicySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // a caller-side vacuum, or a knob that sets how many versions stay
  private val retentionCall =
    """\.vacuum\(|keepLast|retainVersions|vacuumTables""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("src/main decides retention only in io/ModelStore.scala") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repository root: $root")
    val offenders = sources(root)
      .filterNot(_.getPath.endsWith("io/ModelStore.scala"))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq
          .map(_.toString).zipWithIndex
          .filter { case (l, _) => retentionCall.findFirstIn(l).isDefined }
          .map { case (l, i) => s"${f.getPath}:${i + 1}: ${l.trim}" }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("AnnIndex.sink over 4 micro-batches keeps exactly " +
      "RetainVersions versions of postings, codes and KNN graph") {
    val root = Files.createTempDirectory("graft-retain-ann").toString
    val store = new ModelStore(root)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val slot = pmod(col("vec_id"), lit(10L))
    AnnIndex.build(store, "e", emb.filter(slot >= 4L))
    AnnIndex.buildPq(spark, store, "e")
    AnnIndex.buildKnn(spark, store, "e")
    (0L until 4L).foreach(b =>
      AnnIndex.append(spark, store, "e", emb.filter(slot === b)))
    assert(store.meta(spark, AnnIndex.Layer, "e_postings", "rows")
      .contains(emb.count().toString))
    def versionDirs(table: String): Seq[String] =
      Option(new File(s"$root/${AnnIndex.Layer}/$table").listFiles)
        .toSeq.flatten.map(_.getName).filter(_.matches("v[0-9]+")).sorted
    Seq("e_postings", "e_pq_codes", "e_knn").foreach { t =>
      val cur = store.currentVersion(spark, AnnIndex.Layer, t)
      assert(cur == 5, s"$t: expected 4 appends over the build, at v$cur")
      assert(versionDirs(t) == Seq(s"v${cur - 1}", s"v$cur"),
        s"$t keeps ${versionDirs(t).mkString(", ")}")
    }
    Harness.deleteRecursively(new File(root))
  }
}
