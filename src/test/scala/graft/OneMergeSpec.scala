package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one MERGE commit: outside `io/MergeWriter.scala`, only
  * q36 (`RefQueries.scala`, a frame-level MERGE with no table) calls
  * `MergeWriter.merge`; every table upsert goes through
  * `MergeWriter.upsert`. Also keeps out the retired private schema
  * gate and the AnnIndex sink's replay stamp.
  * The third case keeps the deleted streaming surface and its rules out.
  * The fourth keeps store reads on ModelStore's job-free path: a
  * `read.parquet(` infers the schema with a Spark job. */
class OneMergeSpec extends AnyFunSuite {

  private val frameMerge = """MergeWriter\.merge\(""".r
  private val retired = """sameColumns|ann_last_batch""".r
  private val streaming = ("""graft\.streaming|foreachBatch|deleteWhen|""" +
    """keepBatches|serve_last_batch|stream_batch_id""").r
  private val inferringRead = """read\.parquet\(""".r

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private def offenders(files: Seq[File],
      pattern: scala.util.matching.Regex): Seq[String] =
    files.flatMap { f =>
      java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq
        .map(_.toString).zipWithIndex
        .filter { case (l, _) => pattern.findFirstIn(l).isDefined }
        .map { case (l, i) => s"${f.getPath}:${i + 1}: ${l.trim}" }
    }

  private val main = {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repository root: $root")
    sources(root)
  }

  test("src/main calls MergeWriter.merge only in io/MergeWriter.scala " +
      "and q36") {
    val hits = offenders(main.filterNot(f =>
      f.getPath.endsWith("io/MergeWriter.scala") ||
        f.getPath.endsWith("queries/RefQueries.scala")), frameMerge)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main has no sameColumns and no ann_last_batch") {
    val hits = offenders(main, retired)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main has no streaming package, sink or stream-only rule") {
    val hits = offenders(main, streaming)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main infers a parquet schema only for the sources, the " +
      "delta-log checkpoint and ModelStore's fallback") {
    val hits = offenders(main.filterNot(
      _.getPath.endsWith("io/Tables.scala")), inferringRead)
    val allowed = Seq("io/DeltaLogExport.scala", "io/ModelStore.scala")
    val stray = hits.filterNot(h => allowed.exists(a => h.contains(s"$a:")))
    assert(stray.isEmpty, stray.mkString("\n"))
    allowed.foreach(a =>
      assert(hits.count(_.contains(s"$a:")) == 1, hits.mkString("\n")))
  }
}
