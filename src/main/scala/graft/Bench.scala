package graft
object Bench {
  /** Fold one query's per-pass samples into its reported time: the
    * MINIMUM over passes (co-tenant spikes are uncorrelated across
    * windows; a genuine regression is present in every one), except
    * that a failure in ANY pass (-1 sentinel) dominates — a good
    * sample must never mask a bad one (BenchCombineSpec pins this). */
  def combinePasses(samples: Seq[Double]): Double =
    if (samples.exists(_ < 0)) -1.0 else samples.min

  /** Driver-window insurance (spec-pinned ≥ 2): the default pass count
    * when SPARK_GRAFT_PASSES is unset/unparseable. The r5 adjudication
    * showed a single cold driver window landing as the round's number;
    * min-of-N over independent windows is the committed defense, so
    * the DEFAULT — what the driver's bare invocation gets — must keep
    * N ≥ 2 no matter how this file is refactored. */
  val DefaultPasses = 3

  /** Resolve the measured pass count from the env var's raw value. */
  def passCount(env: Option[String]): Int =
    env.flatMap(_.toIntOption).filter(_ >= 1).getOrElse(DefaultPasses)

  /** Per-pass sweep totals (successes only — the headline total's own
    * rule) rendered as a JSON array. Emitted INSIDE the tail JSON:
    * the per-pass audit trail used to go to stderr, which the
    * driver's tail capture drops, leaving window-noise adjudication
    * (is 82 s a warm window or a regression?) without the evidence.
    * Spec-pinned like passCount (BenchCombineSpec). */
  def passTotalsJson(passResults: Seq[Map[String, Double]]): String =
    passResults.map(_.values.filter(_ >= 0).sum)
      .mkString("[", ",", "]")

  /** Per-pass cold-artifact builds (ArtifactStore's ledger, drained
    * after each measured pass) rendered as a JSON array of arrays.
    * Emitted INSIDE the tail JSON: a fresh-container driver window
    * pays every once-per-snapshot build on pass 1, and without this
    * field that cost is only inferable from pass-total spreads —
    * `cold_builds` makes a cold window adjudicable from the artifact
    * alone. Spec-pinned like passCount (BenchCombineSpec). */
  def coldBuildsJson(perPass: Seq[Seq[String]]): String =
    perPass.map(_.map(Harness.jsonStr).mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** Headline value of an existing detail record (for the monotone
    * record policy below). None on absent/garbled content — treated
    * as "no record", so the next full sweep re-seeds it. */
  def recordValue(json: String): Option[Double] =
    """"value":\s*([-0-9.eE+]+)""".r.findFirstMatchIn(json)
      .flatMap(m => m.group(1).toDoubleOption)

  /** Per-query seconds for the SINGLE stdout contract line, rounded to
    * 4 decimals (0.1 ms — far below window noise): the driver keeps
    * only a bounded stdout tail, so the contract line must stay as
    * short as the surface allows. Full-precision figures live in the
    * BENCH_DETAIL*.json artifacts. The -1 failure sentinel renders as
    * "-1" (still < 0 to any numeric consumer). */
  def fmtSec(v: Double): String =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .underlying.stripTrailingZeros.toPlainString

  /** Query-surface size of an existing detail record: the count of
    * per-query keys inside its `"queries":{...}` object — anchored
    * there, not counted record-wide, so a future field that happens
    * to contain a query-name-shaped key (per-query error detail, a
    * nested map) cannot drift the surface count. None when the
    * object or its keys are absent — treated as "unknown surface".
    * The record policy needs this because totals across DIFFERENT
    * surfaces are incomparable: after the registry grows (or
    * shrinks), the old anchor's total is a race the new sweep runs
    * with different weight, so a green full sweep over a CHANGED
    * surface re-seeds the record instead of chasing it. */
  def recordCount(json: String): Option[Int] =
    """"queries":\s*\{""".r.findFirstMatchIn(json).flatMap { m =>
      // the queries object is flat (name -> seconds), so the first
      // close brace ends it
      val start = m.end
      val close = json.indexOf('}', start)
      val obj =
        if (close >= 0) json.substring(start, close)
        else json.substring(start)
      val n = """"q\d+[a-zA-Z0-9_]*":""".r.findAllIn(obj).size
      if (n > 0) Some(n) else None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up the JVM / codegen / parquet reader once so the first
    // measured query isn't charged for session startup.
    try { SparkEntry.entry(spark).count() } catch {
      case e: Throwable =>
        // a broken flagship would otherwise silently shift its session
        // startup cost into the first measured query
        System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    spark.catalog.clearCache()
    // Iteration aid: SPARK_GRAFT_ONLY=q34,q92 restricts the sweep to
    // queries whose name starts with one of the comma-separated
    // prefixes. Unset (the driver's invocation) runs everything.
    // a set-but-empty var (e.g. an unset shell interpolation) must
    // mean "everything", not "nothing" — a zero-query sweep would
    // print an empty result and skip the detail artifact silently
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(Harness.names)
      .filter(_.nonEmpty)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // a typo'd prefix must fail loudly, not run a zero-query sweep
    // that prints total=0 and exits 0 (the silent-empty failure mode
    // the empty-var guard above closes for the unset case)
    only.foreach { prefixes =>
      val unmatched = prefixes.filterNot(p =>
        SparkEntry.queries.keys.exists(_.startsWith(p)))
      require(unmatched.isEmpty,
        s"SPARK_GRAFT_ONLY matches no query: ${unmatched.mkString(", ")}")
    }
    // Dry pre-sweep at the smallest scale factor: run every query once
    // on sf0.001 data (when a sibling sf0.001 dir exists) before any
    // measurement. Each query owns DISTINCT generated codegen classes;
    // executing them once compiles and JIT-warms exactly the classes
    // the measured run will use (measured: identical work costs 5–10×
    // more CPU on its first execution), at ~1/100 of the data. This is
    // what lets the sweep measure steady-state query execution, not
    // each plan's first-compilation cliff — including the write, merge
    // and index subsystems that only the store-writing queries
    // (q34, q86, q92, ...) exercise.
    val warmDir = new java.io.File(sfDir).getParentFile match {
      case null => None
      case p =>
        val w = new java.io.File(p, "sf0.001")
        if (w.isDirectory && w.getAbsolutePath !=
          new java.io.File(sfDir).getAbsolutePath) Some(w.getAbsolutePath)
        else None
    }
    warmDir.foreach { wd =>
      val t0 = System.nanoTime()
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => selected(n) }
        .foreach { case (name, fn) =>
          try { fn(spark, wd).count(); () } catch {
            case e: Throwable => System.err.println(
              s"[bench] dry-sweep $name failed: ${e.getMessage}")
          }
          spark.catalog.clearCache()
        }
      System.err.println(f"[bench] dry pre-sweep ($wd) " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // Measured passes over the full sweep; each query reports its
    // per-pass MINIMUM. Interleaved measurement on this class of
    // shared host shows individual queries randomly inflating 2–4×
    // from co-tenant interference (a DIFFERENT query each window —
    // q66 6.7 s vs its 1.3 s floor in one sweep, q26 5.3 s vs 1.6 in
    // the next, totals 59–76 s for identical code), so a single-pass
    // total measures which queries the neighbors landed on, not the
    // engine. The minimum over independent windows is the standard
    // best-of-N treatment for exogenous interference: spikes are
    // uncorrelated across passes, so each extra pass multiplies the
    // chance a spike survives into the reported minimum by its
    // per-window probability, while a genuine regression (present in
    // EVERY pass) survives untouched. Three passes (~65 s each warm)
    // keep the whole run well inside the observed driver budget
    // (single-pass windows up to 422 s have completed) and cut the
    // residual per-query inflation risk a further order of magnitude
    // vs two. Failures stay conservative: a query that fails in ANY
    // pass reports -1, a good sample never masks a bad one. Per-pass
    // totals go to stderr for auditability.
    val passes = Bench.passCount(sys.env.get("SPARK_GRAFT_PASSES"))
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected(n) }
    // discard warm-up/dry-sweep builds (sf0.001 artifacts): the ledger
    // should attribute builds to the measured passes only
    graft.io.ArtifactStore.drainBuilds()
    val coldBuilds =
      scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val passResults = (1 to passes).map { pass =>
      val r = names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              errors += name
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // queries may persist() shared intermediates; drop them OUTSIDE
        // the timed span so cache teardown doesn't pollute the number
        spark.catalog.clearCache()
        // a failed query reports -1 (not its truncated elapsed time) so
        // failures can't make a bench run look faster than a green one
        name -> (if (ok) elapsed else -1.0)
      }.toMap
      val built = graft.io.ArtifactStore.drainBuilds()
      coldBuilds += built
      if (built.nonEmpty) System.err.println(
        s"[bench] pass $pass cold builds: ${built.mkString(", ")}")
      System.err.println(f"[bench] pass $pass/$passes total " +
        f"${r.values.filter(_ >= 0).sum}%.1f s")
      r
    }
    val results = names.map { case (name, _) =>
      name -> Bench.combinePasses(passResults.map(_(name)))
    }.toMap
    if (errors.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${errors.mkString(", ")}")
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => Harness.jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // ONE stdout JSON line, exactly the driver contract's shape
    // ({"metric","value","unit","queries","sf"} + audit fields). The
    // previous two-line form (full detail line, then a short total
    // line WITHOUT "queries") was unparseable by the driver in every
    // round: its bounded stdout tail (observed 2000 chars) truncates
    // the detail line's head, and the short line lacks the per-query
    // map, so BENCH_r*.json landed "parsed": null and PERF_r12's
    // per-query comparison came up empty. One line restores the
    // contract; "unit"/"value" are REPEATED at the very end of the
    // line (identical values — JSON duplicate keys are last-wins) so
    // the bounded tail always contains the headline number even when
    // the line's head is cut. Per-query values are rounded to 4
    // decimals to keep the line short; full precision stays in the
    // BENCH_DETAIL*.json artifacts below.
    val sfJ = Harness.jsonStr(sfDir)
    val ptJ = Bench.passTotalsJson(passResults)
    val cbJ = Bench.coldBuildsJson(coldBuilds.toSeq)
    val detail =
      s"""{"metric":"total_detail","value":$total,"unit":"sec","passes":$passes,"pass_totals":$ptJ,"cold_builds":$cbJ,"queries":$qs,"sf":$sfJ}"""
    val qsShort = results.toSeq.sortBy(_._1)
      .map { case (k, v) => Harness.jsonStr(k) + ":" + Bench.fmtSec(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsShort,"passes":$passes,"pass_totals":$ptJ,"cold_builds":$cbJ,"sf":$sfJ,"unit":"sec","value":$total}""")
    // The driver's log capture keeps only a bounded stdout tail, which
    // has truncated the per-query map before (round 4: q01–q37
    // unauditable). Persist the full line to files so every round's
    // per-query numbers are directly readable regardless of capture
    // size. Best-effort: a read-only cwd must not fail the bench.
    // …but never clobber the full-sweep artifacts with a filtered run,
    // nor with a run at a different scale factor than the gate's
    // (the verify recipe runs Bench at sf0.01 — that sweep must not
    // overwrite the committed sf0.1 quiet-floor record).
    if (only.isEmpty && new java.io.File(sfDir).getName == "sf0.1") {
      // every full-sweep run records to the UNCOMMITTED last-run
      // artifact (gitignored — working evidence, not the anchor)…
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_DETAIL_LAST.json"), detail + "\n")
      catch { case _: Throwable => () }
      // …while the COMMITTED quiet-floor record only improves
      // MONOTONICALLY: the round-8 driver sweep overwrote the 65.0 s
      // record with its own slower window, leaving the audit anchor
      // as uncommitted drift. A garbled/absent record re-seeds; a run
      // with ANY failed query never touches it (its total sums
      // successes only and would read faster than a green one).
      try {
        val rec = java.nio.file.Paths.get("BENCH_DETAIL.json")
        val improves = errors.isEmpty && (!java.nio.file.Files.exists(rec)
          || {
            val old = java.nio.file.Files.readString(rec)
            // ANY surface mismatch — grown OR shrunk — or an
            // unreadable surface count makes the totals incomparable,
            // so a green full sweep re-seeds the anchor; only a
            // same-surface record keeps the monotone quiet-floor
            // policy (the old grow-only rule wedged permanently on a
            // shrink: neither the re-seed nor the monotone branch
            // could ever fire again)
            Bench.recordCount(old) match {
              case Some(n) if n == names.length =>
                Bench.recordValue(old).forall(total < _)
              case _ => true
            }
          })
        if (improves)
          java.nio.file.Files.writeString(rec, detail + "\n"): Unit
      } catch { case _: Throwable => () }
    }
    spark.stop()
    // a query failure must be loud in the exit code, not only in the
    // stderr tail and the detail map's -1 sentinels: the headline
    // total sums successes only, so a run with failures would
    // otherwise read FASTER than a green one to any consumer that
    // compares totals without parsing per-query detail
    if (errors.nonEmpty) sys.exit(1)
  }
}
