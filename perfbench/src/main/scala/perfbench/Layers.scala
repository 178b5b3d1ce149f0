package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, each a mean per timed op unless
  * its name says otherwise, plus the span dump and layer table written
  * to the run's trace directory. */
object Layers {
  /** The layers whose spans run inside timed ops; the pipeline and io
    * spans (feed synthesis, store reads in the checks) are set-up and
    * are reported as totals below. */
  val LayerNames: Seq[String] = Seq("bench", "model", "analytics")

  val ModelPhases: Seq[String] = Seq("touched-discovery", "merge-write",
    "pruned-merge-write", "bootstrap-write", "empty-check")
  val NdindexPhases: Seq[String] = Seq("sig-count", "batch-cluster",
    "histmin-materialize", "decide-checkpoint", "survivor-empty-check",
    "sig-append-write")

  private def layerOf(span: String): String =
    if (span == "op") "bench" else span.takeWhile(_ != '.')

  /** Total length of the union of `iv`, clipped to `[lo, hi]`. */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    c.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }

  def metrics(r: Run, dir: String): Seq[(String, (Double, String))] = {
    val t = r.trace
    val jobs = t.jobs.values.asScala.toSeq.filter(_.endNs >= 0)
    val actions = t.actions.asScala.toSeq
    val ops = r.ops.toSeq
    val n = ops.length.max(1).toDouble
    def inWindow(s: Long, lo: Long, hi: Long) = s >= lo && s <= hi
    def jobsIn(lo: Long, hi: Long) = jobs.filter(j => inWindow(j.startNs, lo, hi))
    def busy(js: Seq[JobRec], lo: Long, hi: Long) =
      unionNs(js.map(j => (j.startNs, j.endNs)), lo, hi)
    val opJobs = ops.map(o => o -> jobsIn(o.startNs, o.endNs))
    val allOpJobs = opJobs.flatMap(_._2)
    val wallNs = ops.map(o => o.endNs - o.startNs).sum.toDouble
    val busyNs = opJobs.map { case (o, js) => busy(js, o.startNs, o.endNs) }
      .sum.toDouble
    val taskNs = allOpJobs.map(_.taskNs).sum.toDouble
    def spansNamed(name: String, inOps: Boolean) =
      t.spans.filter(s => s.name == name && (s.op >= 0) == inOps)
    def spanS(name: String, inOps: Boolean = true) =
      spansNamed(name, inOps).map(s => s.endNs - s.startNs).sum / 1e9
    // busy seconds of the jobs whose description (PhaseTimer's
    // "<prefix> ... <phase>") names `phase`, over the given windows
    def phaseBusy(prefix: String, phase: String, windows: Seq[(Long, Long)]) =
      windows.map { case (lo, hi) =>
        busy(jobsIn(lo, hi).filter(j => j.desc.startsWith(prefix) &&
          j.desc.endsWith(s" $phase")), lo, hi)
      }.sum / 1e9
    val opWindows = ops.map(o => (o.startNs, o.endNs))
    val bootWindows = r.segments.collect { case ("bootstrap", a, b) => (a, b) }
      .toSeq

    // self time per layer: a span's length minus what its child spans
    // and the Spark jobs started inside it cover
    val self = scala.collection.mutable.LinkedHashMap(
      LayerNames.map(_ -> 0.0): _*)
    val byParent = t.spans.groupBy(_.parent)
    t.spans.filter(_.op >= 0).foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil)
      val kidIv = kids.map(k => (k.startNs, k.endNs)).toSeq
      val ownJobs = jobsIn(s.startNs, s.endNs).filterNot(j =>
        kids.exists(k => inWindow(j.startNs, k.startNs, k.endNs)))
      val covered = unionNs(kidIv ++ ownJobs.map(j => (j.startNs, j.endNs)),
        s.startNs, s.endNs)
      self(layerOf(s.name)) += (s.endNs - s.startNs - covered) / 1e9
    }

    val m = Seq.newBuilder[(String, (Double, String))]
    def add(k: String, v: Double, u: String) = m += (k -> (v, u))
    add("trace.wall_s", ops.lastOption.map(o =>
      (o.endNs - ops.head.startNs) / 1e9).getOrElse(0.0), "s")
    add("trace.ops", ops.length, "count")
    LayerNames.foreach(l => add(s"self.${l}_s", self(l) / n, "s"))
    add("spark.jobs", allOpJobs.length / n, "count")
    add("spark.stages", allOpJobs.map(_.stages).sum / n, "count")
    add("spark.tasks", allOpJobs.map(_.tasks).sum / n, "count")
    add("spark.tasks_failed", allOpJobs.map(_.tasksFailed).sum / n, "count")
    add("spark.job_busy_s", busyNs / 1e9 / n, "s")
    add("spark.driver_gap_s", (wallNs - busyNs) / 1e9 / n, "s")
    add("spark.gap_share", if (wallNs > 0) (wallNs - busyNs) / wallNs
      else 0.0, "ratio")
    add("spark.task_s", taskNs / 1e9 / n, "s")
    add("spark.core_util", if (wallNs > 0) taskNs / (wallNs *
      r.opts.cores) else 0.0, "ratio")
    add("spark.shuffle_read_bytes", allOpJobs.map(_.shuffleRead).sum / n,
      "bytes")
    add("spark.shuffle_write_bytes",
      allOpJobs.map(_.shuffleWrite).sum / n, "bytes")
    add("spark.spill_bytes", allOpJobs.map(_.spill).sum / n, "bytes")
    add("spark.input_bytes", allOpJobs.map(_.input).sum / n, "bytes")
    add("spark.plan_s", ops.map(o => actions.filter(a =>
      inWindow(a.startNs, o.startNs, o.endNs)).map(_.planNs).sum).sum /
      1e9 / n, "s")
    add("model.run_s.incremental", spanS("model.run.Incremental") / n, "s")
    add("model.run_s.bootstrap", spanS("model.run.Bootstrap", false), "s")
    ModelPhases.foreach { p =>
      val k = s"model.${p.replace("-", "_")}_s"
      if (p == "bootstrap-write")
        add(k, phaseBusy("pipeline ", p, bootWindows), "s")
      else add(k, phaseBusy("pipeline ", p, opWindows) / n, "s")
    }
    add("model.models_failed", r.extra.getOrElse("model.models_failed",
      0.0), "count")
    add("model.models_skipped", r.extra.getOrElse("model.models_skipped",
      0.0), "count")
    add("pipeline.feed_synth_s", spanS("pipeline.feed_synth", false), "s")
    add("io.versions", ops.map(_.newVersions).sum / n, "count")
    add("io.files_written", ops.map(_.newFiles).sum / n, "count")
    add("io.bytes_written", ops.map(_.newBytes).sum / n, "bytes")
    add("io.store_bytes", ops.map(_.storeBytes).sum / n, "bytes")
    add("io.store_read_s", spanS("io.store_read", false), "s")
    add("io.artifact_cold_builds", ops.map(_.coldBuilds).sum, "count")
    Seq("dedup_apply", "neardup_ingest").foreach(k =>
      add(s"analytics.${k}_s", spanS(s"analytics.$k") / n, "s"))
    NdindexPhases.foreach(p => add(s"analytics.ndindex.${p.replace("-", "_")}_s",
      phaseBusy("ndindex ", p, opWindows) / n, "s"))
    Seq("docs_in", "docs_kept", "keep_ratio").foreach(k =>
      add(s"analytics.$k", r.extra.getOrElse(s"analytics.$k", 0.0),
        if (k == "keep_ratio") "ratio" else "count"))
    add("jvm.gc_s", ops.map(_.gcNs).sum / 1e9 / n, "s")
    add("jvm.heap_post_gc_mb", ops.map(_.heapMb).sum / n, "MiB")
    val out = m.result()
    write(r, dir, out)
    out
  }

  /** Spans, jobs and the layer table, written once the run has ended. */
  private def write(r: Run, dir: String,
      out: Seq[(String, (Double, String))]): Unit = {
    val d = new java.io.File(dir); d.mkdirs()
    def q(s: String) = graft.Harness.jsonStr(s)
    val base = r.processStartNs
    val spanLines = r.trace.spans.map(s =>
      s"""{"kind": "span", "id": ${s.id}, "name": ${q(s.name)}, """ +
        s""""start_s": ${(s.startNs - base) / 1e9}, "end_s": ${(s.endNs - base) / 1e9}, """ +
        s""""parent": ${s.parent}, "op": ${s.op}}""")
    val jobLines = r.trace.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"kind": "job", "id": ${j.id}, "desc": ${q(j.desc)}, """ +
        s""""start_s": ${(j.startNs - base) / 1e9}, "end_s": ${(j.endNs - base) / 1e9}, """ +
        s""""stages": ${j.stages}, "tasks": ${j.tasks}, "task_s": ${j.taskNs / 1e9}}""")
    val opLines = r.ops.map(o =>
      s"""{"kind": "op", "id": ${o.id}, "name": ${q(o.name)}, """ +
        s""""start_s": ${(o.startNs - base) / 1e9}, "end_s": ${(o.endNs - base) / 1e9}, "ok": ${o.ok}}""")
    java.nio.file.Files.writeString(new java.io.File(d, "spans.jsonl").toPath,
      (opLines ++ spanLines ++ jobLines).mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(new java.io.File(d, "layers.json").toPath,
      out.map { case (k, (v, u)) =>
        s"""  ${q(k)}: {"value": ${Report.num(v)}, "unit": ${q(u)}}"""
      }.mkString(s"{\n  \"workload\": ${q(r.opts.workload)},\n", ",\n", "\n}\n"))
    ()
  }
}
