package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process (paths are absolute; the
  * launcher `run.py` resolves them inside the checkout). */
final case class Opts(workload: String, seed: Long, seconds: Int,
    traced: Boolean, data: String, work: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"),
      need("cores").toInt)
  }
}

/** One timed operation: a pipeline run or an ingest batch. */
final case class OpRec(id: Int, name: String, startNs: Long, endNs: Long,
    ok: Boolean, rows: Long, gcNs: Long, heapMb: Double,
    coldBuilds: Int, newFiles: Int, newBytes: Long, newVersions: Int,
    storeBytes: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The state one benchmark process shares across its workload: the
  * op log, output checks, store accounting and memory samples. */
final class Run(val spark: SparkSession, val opts: Opts,
    val trace: Trace) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val sinceJvmStartNs =
    (System.currentTimeMillis() - jvmStartMs) * 1000000L
  /** JVM start on the benchmark's monotonic clock. */
  val processStartNs: Long = System.nanoTime() - sinceJvmStartNs

  val ops = mutable.ArrayBuffer.empty[OpRec]
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Set-up segments measured outside the ops (name, start, end); the
    * one named "bootstrap" is the full build before the timed ops. */
  val segments = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var inputBytes: Long = 0L
  var inputRows: Long = 0L
  /** Per-layer values a workload reports itself (counts, ratios). */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  /** Where the engine's ArtifactStore keeps derived artifacts: the
    * launcher points GRAFT_ARTIFACT_ROOT into the run's work dir. */
  val artifactRoot: String = sys.env.getOrElse("GRAFT_ARTIFACT_ROOT",
    sys.error("GRAFT_ARTIFACT_ROOT must point into the run's work dir"))
  val storeRoot: String = s"${opts.work}/stores"
  def storeDir(name: String): String = s"$storeRoot/$name"

  def bootstrapNs: Long = segments.collect {
    case ("bootstrap", a, b) => b - a }.sum

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Times `body` as one segment of set-up (e.g. the bootstrap run). */
  def segment[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = trace.span(name)(body)
    segments += ((name, t0, System.nanoTime()))
    r
  }

  // ---------------------------------------------------------- checks
  /** Records an output check made outside the timed span. A failed
    * check marks the latest op failed: it produced the wrong output. */
  def check(what: String)(ok: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val passed =
      try ok
      catch { case NonFatal(e) => log(s"check $what threw: $e"); false }
    log(f"check $what: ${if (passed) "ok" else "FAILED"} in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    if (!passed) {
      failures += what
      log(s"CHECK FAILED: $what")
      if (ops.nonEmpty) ops(ops.length - 1) = ops.last.copy(ok = false)
    }
    passed
  }

  def correct: Boolean = failures.isEmpty && ops.forall(_.ok)

  // ------------------------------------------------------------- ops
  private def gcNanos: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum * 1000000L

  /** Heap occupancy left by the most recent collection of each pool. */
  private def postGcHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
      (1024.0 * 1024.0)
  /** Live heap after a full collection once the last op has ended.
    * A full collection between ops slows the next one, and the per-op
    * post-GC samples depend on whether an old-generation cycle
    * happened to run, so the end-to-end figure is this one. */
  var liveHeapMb: Double = 0.0

  /** Runs one timed op. `body` returns the rows it consumed or
    * produced; a throw marks the op failed. Everything after the
    * body — store walk, build ledger, heap sample — is outside the
    * timed span. */
  def op(name: String)(body: => Long): Boolean = {
    val id = ops.length
    trace.currentOp = id
    val gc0 = gcNanos
    val t0 = System.nanoTime()
    val rows =
      try Some(trace.span("op")(body))
      catch { case NonFatal(e) =>
        log(s"op $id $name failed: $e"); e.printStackTrace(); None }
    val t1 = System.nanoTime()
    val gc = gcNanos - gc0
    trace.currentOp = -1
    val cold = graft.io.ArtifactStore.drainBuilds()
    if (cold.nonEmpty)
      log(s"op $id $name built cold artifacts: ${cold.mkString(", ")}")
    val w = walkStores()
    ops += OpRec(id, name, t0, t1, rows.isDefined, rows.getOrElse(0L),
      gc, postGcHeapMb, cold.size, w.newFiles, w.newBytes, w.newVersions,
      w.totalBytes)
    rows.isDefined
  }

  // ------------------------------------------------- store accounting
  final case class Walk(totalBytes: Long, newFiles: Int, newBytes: Long,
      newVersions: Int)
  private val seen = mutable.HashSet.empty[AnyRef]
  private val seenVersions = mutable.HashSet.empty[String]
  private val Version = "v\\d+".r

  /** Walks every store root of the run. Files are keyed by inode, so a
    * hard-linked carry-over is counted once, when first created. */
  def walkStores(): Walk = {
    var total, newBytes = 0L
    var newFiles, newVersions = 0
    Seq(storeRoot, artifactRoot).map(new File(_)).filter(_.isDirectory)
      .foreach { root =>
        val it = Files.walk(root.toPath).iterator().asScala
        it.foreach { p: Path =>
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isDirectory) {
            if (Version.matches(p.getFileName.toString) &&
                seenVersions.add(p.toString)) newVersions += 1
          } else if (a.isRegularFile) {
            total += a.size
            val key = Option(a.fileKey).getOrElse(p.toString)
            if (seen.add(key)) {
              newFiles += 1
              newBytes += a.size
            }
          }
        }
      }
    Walk(total, newFiles, newBytes, newVersions)
  }

  def finish(): Unit = {
    // Spark's ContextCleaner drops broadcast and shuffle blocks of
    // collected plans asynchronously after the first collection
    System.gc(); Thread.sleep(1000); System.gc()
    liveHeapMb = postGcHeapMb
  }
}
