package graft.model

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{functions, DataFrame, SparkSession}

import graft.io.{MergeWriter, ModelStore}

/** Run mode — reference `is_incremental()`:
  * Bootstrap ≙ first run / `--full-refresh` (watermark + first-seen
  * lookups omitted, CTAS semantics); Incremental ≙ merge-upsert run.
  * (reference `orders_cleaned.sql:53–59,350–360`). */
sealed trait RunMode
object RunMode {
  case object Bootstrap extends RunMode
  case object Incremental extends RunMode
}

/** Everything a model build function may touch — the Scala analog of
  * dbt's `source()` / `ref()` / `this` / `var()` / `is_incremental()`
  * Jinja context. */
final case class BuildCtx(
    spark: SparkSession,
    source: (String, String) => DataFrame,   // source('bronze', name)
    ref: String => DataFrame,                // ref('model')
    existing: Option[DataFrame],             // {{ this }} (None on bootstrap)
    mode: RunMode,
    vars: Map[String, String],
    /** Commit-time footer-stats MAX of a column of `{{ this }}`
      * ([[graft.io.ModelStore.statMax]], populated for the model's
      * declared [[ModelDef.statsCols]]) — lets the incremental
      * watermark gate read the target's high-water mark in O(1)
      * instead of re-scanning the table column per run. None (the
      * default for directly-constructed contexts) falls back to the
      * scan. */
    statMax: String => Option[String] = _ => None) {
  def isIncremental: Boolean =
    mode == RunMode.Incremental && existing.isDefined
  /** `var('ingest_batch_date')` default, `dbt_project.yml:27–28`. */
  def variable(name: String, default: String): String =
    vars.getOrElse(name, default)
}

/** One model — dbt `config()` block + compiled SELECT as a function
  * (reference `orders_cleaned.sql:8–16` etc.). */
final case class ModelDef(
    name: String,
    layer: String,                      // custom schema (silver/gold), O3
    deps: Seq[String] = Nil,
    tags: Set[String] = Set.empty,      // O2
    uniqueKey: Option[String] = None,   // merge key, S3
    partitionBy: Seq[String] = Nil,     // S5
    zorderBy: Seq[String] = Nil,        // S7 OPTIMIZE/ZORDER post-hook
    /** Columns whose MAX is recorded as commit-time footer stats
      * (`stat_max_<col>` meta — the Delta column-stats analog).
      * Declare the model's incremental watermark column here so the
      * next run's gate reads the high-water mark from meta instead of
      * scanning the table. */
    statsCols: Seq[String] = Nil,
    description: String = "",           // O7 persist_docs
    postHooks: Seq[DataFrame => Unit] = Nil,   // O6 generic post-hooks
    build: BuildCtx => DataFrame)

/** DAG executor — the dbt orchestration layer (SURVEY.md §2.11).
  * Topological order over `deps`, up to `threads` independent models
  * materializing concurrently (reference `profiles.yml:8` `threads: 5`;
  * the Spark scheduler is thread-safe so concurrent actions interleave
  * their stages on the cluster).
  */
final class Pipeline(
    models: Seq[ModelDef],
    store: ModelStore,
    sources: (String, String) => DataFrame,
    vars: Map[String, String] = Map.empty,
    threads: Int = 5,
    /** append a Delta-protocol `_delta_log` entry after each
      * materialization ([[graft.io.DeltaLogExport]]) so external
      * Delta readers can open the produced tables. Opt-in: the log
      * is interop surface, not a dependency of the engine itself. */
    exportDeltaLog: Boolean = false,
    /** with [[exportDeltaLog]], also write a protocol checkpoint
      * (`<v>.checkpoint.parquet` + `_last_checkpoint`) every N log
      * entries so readers replay O(N) JSON tail instead of the whole
      * log — Delta's own default cadence is every 10 commits.
      * ≤ 0 disables checkpointing. */
    deltaCheckpointInterval: Int = 10) {

  private val byName = models.map(m => m.name -> m).toMap

  /** Topological order (deterministic: insertion order among ready). */
  private def topoOrder(selected: Seq[ModelDef]): Seq[ModelDef] = {
    val sel = selected.map(_.name).toSet
    val order = mutable.ArrayBuffer.empty[ModelDef]
    val done = mutable.Set.empty[String]
    var remaining = selected
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(
        _.deps.filter(sel).forall(done))
      require(ready.nonEmpty,
        s"dependency cycle among ${remaining.map(_.name).mkString(", ")}")
      order ++= ready
      done ++= ready.map(_.name)
      remaining = blocked
    }
    order.toSeq
  }

  /** Run the (tag-selected subset of the) DAG in `mode`. Returns the
    * materialized DataFrame per model name; throws (after the whole
    * runnable DAG completes) if any model failed — see [[runReport]]
    * for the per-model statuses. */
  def run(spark: SparkSession, mode: RunMode,
      selectTags: Option[Set[String]] = None): Map[String, DataFrame] = {
    val report = runReport(spark, mode, selectTags)
    if (report.failed.nonEmpty) {
      val failures = report.status.collect {
        case (n, Pipeline.Failed(e)) => s"$n (${String.valueOf(e.getMessage)})"
      }
      // first failure rides as the CAUSE so the real stack trace (and
      // exception type) survives for callers and logs
      val first = report.status(report.failed.head)
        .asInstanceOf[Pipeline.Failed].error
      throw new RuntimeException(
        s"pipeline run failed: ${failures.mkString("; ")}; " +
          s"skipped downstream: ${report.skipped.mkString(", ")}", first)
    }
    report.results
  }

  /** [[run]] with dbt's failure semantics surfaced instead of thrown:
    * a failing model does NOT abort the run — every model whose deps
    * all succeeded still materializes (independent subtrees of a
    * 6-hour DAG must not lose their work to an unrelated failure),
    * dependents of a failure are marked [[Pipeline.SkippedDep]]
    * without running (dbt's SKIP), and the per-model outcome is
    * returned for the caller to decide on. `results` holds only the
    * successfully materialized models. */
  def runReport(spark: SparkSession, mode: RunMode,
      selectTags: Option[Set[String]] = None): Pipeline.RunReport =
    runSelected(spark, mode, selectTags match {
      case None => models
      case Some(ts) => models.filter(m => m.tags.exists(ts))
    })

  /** `dbt retry` parity: re-run ONLY the models a prior report left
    * failed or skipped, in dependency order. Succeeded models are not
    * re-materialized — a re-run model's `ref()` to one reads its
    * committed table, so a fixed transient (or a fixed model bug
    * shipped between runs) completes the DAG at the cost of the
    * unfinished work only. The returned report covers the retried
    * subset. */
  def retry(spark: SparkSession, prior: Pipeline.RunReport,
      mode: RunMode): Pipeline.RunReport = {
    val rerun = (prior.failed ++ prior.skipped).toSet
    runSelected(spark, mode, models.filter(m => rerun(m.name)))
  }

  private def runSelected(spark: SparkSession, mode: RunMode,
      selected: Seq[ModelDef]): Pipeline.RunReport = {
    val order = topoOrder(selected)

    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    // every future COMPLETES (with the model's status) rather than
    // failing — the await below therefore waits for the whole runnable
    // DAG, never aborting mid-flight on the first error
    val futures = mutable.Map.empty[String, Future[Pipeline.ModelStatus]]
    try {
      for (m <- order) {
        val depFs = m.deps.filter(futures.contains).map(d =>
          futures(d).map(d -> _))
        futures(m.name) = Future.sequence(depFs).map { depStatus =>
          depStatus.find(!_._2.ok) match {
            case Some((dep, _)) =>
              System.err.println(
                s"[pipeline] ${m.layer}.${m.name} SKIPPED (upstream $dep)")
              Pipeline.SkippedDep(dep)
            case None =>
              try { materialize(spark, m, mode); Pipeline.Succeeded }
              catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(
                    s"[pipeline] ${m.layer}.${m.name} FAILED: " +
                      s"${e.getMessage}")
                  Pipeline.Failed(e)
              }
          }
        }
      }
      val status = order.map(m =>
        m.name -> Await.result(futures(m.name), Duration.Inf)).toMap
      val results = order.filter(m => status(m.name).ok)
        .map(m => m.name -> store.read(spark, m.layer, m.name).get).toMap
      Pipeline.RunReport(results, status)
    } finally pool.shutdown()
  }

  /** `dbt docs generate` analog: one row per model with its declared
    * orchestration metadata (deps = lineage edges, tags, merge key,
    * layout, stats columns, description) joined with the LIVE store
    * state (current version, column names/types of the materialized
    * table, persisted comment). Driver-side metadata only — no data
    * jobs; the schema read is a parquet footer. */
  def catalog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    models.map { m =>
      val v = store.currentVersion(spark, m.layer, m.name)
      val schema =
        if (v == 0) Seq.empty[String]
        else store.read(spark, m.layer, m.name).get.schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").toSeq
      (m.name, m.layer, m.deps, m.tags.toSeq.sorted,
        m.uniqueKey.getOrElse(""), m.partitionBy, m.zorderBy,
        m.statsCols, m.description, v.toLong, schema)
    }.toDF("model", "layer", "deps", "tags", "unique_key",
      "partition_by", "zorder_by", "stats_cols", "description",
      "current_version", "columns")
  }

  /** Surgical partition backfill — the "re-run one month" repair: the
    * model is rebuilt from sources in full-refresh semantics but ONLY
    * the rows matching `partitionPred` are written, swapping exactly
    * those partition directories in a new version (untouched
    * partitions carry over by link — [[graft.io.ModelStore
    * .writeTouchedPartitions]]). Full-refresh correctness at
    * O(selected partitions) write cost; readers see a complete table
    * at every moment (pointer commit). A selected partition whose
    * rebuild yields no rows is emptied (upstream purge honored), not
    * carried over.
    *
    * Contract: `partitionPred` must be a predicate over the model's
    * partition columns only (a row-level predicate would write partial
    * partition contents), and the stored layout must match the
    * model's declared partitioning. */
  def backfill(spark: SparkSession, modelName: String,
      partitionPred: org.apache.spark.sql.Column): DataFrame = {
    val m = byName(modelName)
    require(m.partitionBy.nonEmpty, s"$modelName is not partitioned")
    // a never-materialized model bootstraps below; an EXISTING table
    // must carry the declared layout or partition replacement would
    // silently rewrite the whole table
    val materialized = store.currentVersion(spark, m.layer, m.name) > 0
    require(!materialized || store.hasPartitionLayout(spark, m.layer,
        m.name, m.partitionBy),
      s"stored layout of ${m.layer}.${m.name} does not match " +
        s"partitionBy=${m.partitionBy.mkString(",")}")
    val ref = refResolver(spark)
    val ctx = BuildCtx(spark = spark, source = sources, ref = ref,
      existing = None, mode = RunMode.Bootstrap, vars = vars)
    val rebuilt = m.build(ctx).filter(partitionPred)
    // Declare every EXISTING partition matching the predicate as
    // touched, not just those the rebuild produced rows for: a
    // selected partition whose rebuild is empty (upstream purged the
    // month) must be dropped from the new version, not carried over —
    // otherwise the purge silently fails. A partition-pruned,
    // column-pruned distinct over the partition columns only.
    // A never-materialized model has no existing partitions to purge —
    // the backfill degrades to a plain bootstrap write of the selection
    // (no declared rows) instead of throwing on the missing table.
    // Bounded collect: distinct partition values, never rows.
    val existingTouched = store.read(spark, m.layer, m.name).map { ex =>
      val d = ex.filter(partitionPred)
        .select(m.partitionBy.map(functions.col): _*).distinct()
      (d.schema, d.collect().toSeq)
    }
    store.writeTouchedPartitions(rebuilt, m.layer, m.name,
      m.partitionBy, m.zorderBy, description = m.description,
      touchedRows = existingTouched, statsCols = m.statsCols)
    store.read(spark, m.layer, m.name).get
  }

  /** `ref()` resolution shared by every build path (normal runs and
    * backfills must resolve identically): dependency name → its
    * CURRENT materialized table, failing loudly when unmet. */
  private def refResolver(spark: SparkSession): String => DataFrame =
    (name: String) => {
      val dep = byName(name)
      store.read(spark, dep.layer, dep.name).getOrElse(
        sys.error(s"ref('$name') not materialized yet"))
    }

  private def materialize(spark: SparkSession, m: ModelDef,
      mode: RunMode): Unit = {
    val t0 = System.nanoTime()
    val ref = refResolver(spark)
    Pipeline.materializeModel(spark, store, m, mode, sources, ref, vars)
    if (exportDeltaLog) {
      val logV = graft.io.DeltaLogExport.export(spark, store,
        m.layer, m.name)
      // interval ≤ 0 means "never checkpoint" (and guards the modulo)
      if (deltaCheckpointInterval > 0 && logV >= 0 &&
          (logV + 1) % deltaCheckpointInterval == 0)
        graft.io.DeltaLogExport.checkpoint(spark, store,
          m.layer, m.name): Unit
    }
    // dbt-style per-model run log (stderr: keeps Bench's stdout JSON
    // clean)
    System.err.println(
      f"[pipeline] ${m.layer}.${m.name} ($mode) " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

object Pipeline {

  /** Per-model outcome of a DAG run — dbt's success/error/skip. */
  sealed trait ModelStatus { def ok: Boolean = this == Succeeded }
  case object Succeeded extends ModelStatus
  /** The model's own materialization threw. */
  final case class Failed(error: Throwable) extends ModelStatus
  /** Not run: the named upstream dependency did not succeed. */
  final case class SkippedDep(dep: String) extends ModelStatus

  /** Outcome of [[Pipeline.runReport]]: materialized frames for the
    * successful models plus every model's status. */
  final case class RunReport(
      results: Map[String, org.apache.spark.sql.DataFrame],
      status: Map[String, ModelStatus]) {
    def failed: Seq[String] =
      status.collect { case (n, _: Failed) => n }.toSeq.sorted
    def skipped: Seq[String] =
      status.collect { case (n, _: SkippedDep) => n }.toSeq.sorted
  }

  /** Materialize one model: build → merge/append per strategy → write →
    * post-hooks, for the DAG executor above. A keyed incremental run
    * commits through [[MergeWriter.upsert]], the store's one MERGE
    * (pruned or full rewrite, empty no-op, persist, schema rule). */
  def materializeModel(spark: SparkSession, store: ModelStore,
      m: ModelDef, mode: RunMode,
      sources: (String, String) => DataFrame,
      ref: String => DataFrame,
      vars: Map[String, String]): Unit = {
    val existing =
      if (mode == RunMode.Incremental) store.read(spark, m.layer, m.name)
      else None
    val ctx = BuildCtx(
      spark = spark,
      source = sources,
      ref = ref,
      existing = existing,
      mode = if (existing.isDefined) mode else RunMode.Bootstrap,
      vars = vars,
      statMax = c => store.statMax(spark, m.layer, m.name, c))
    val updates = m.build(ctx)
    // Materialization strategy (S3/S4): a uniqueKey means MERGE upsert;
    // without one, incremental runs APPEND to the existing table — the
    // reference project's default (`dbt_project.yml:40–41`,
    // `incremental_strategy: 'append'`).
    (existing, m.uniqueKey) match {
      case (Some(_), Some(key)) =>
        MergeWriter.upsert(store, existing, updates, m.layer, m.name, key,
          m.partitionBy, m.zorderBy, m.statsCols, m.description)
      case _ =>
        // One persist rule for the append and bootstrap writes: persist
        // iff the write range-partitions (partitioned AND zordered).
        // That exchange SAMPLES its input in a separate job before
        // shuffling, so an unpersisted build would compute twice (at
        // ≈sf10 the medallion bootstrap paid its 15M-row CDC-dedup
        // window twice, +60 s measured). Zorder-only writes keep their
        // historical no-persist behavior: their builds re-run cheaper
        // than a table-size cache round-trip (measured on
        // customers_latest).
        val part = m.partitionBy.nonEmpty && m.zorderBy.nonEmpty
        val u = if (part) updates.persist() else updates
        def write(phase: String, df: DataFrame): Unit =
          graft.ops.PhaseTimer.table(spark, m.layer, m.name, phase) {
            store.write(df, m.layer, m.name, m.partitionBy, m.zorderBy,
              description = m.description, statsCols = m.statsCols)
          }
        try existing match {
          case Some(ex) => write("append-write",
            ex.unionByName(u, allowMissingColumns = true))
          case None => write("bootstrap-write", u)
        } finally if (part) { u.unpersist(); () }
    }
    // O6: post-hooks run against the materialized table (the dbt
    // post_hook analog; ZORDER itself is folded into the write above)
    if (m.postHooks.nonEmpty) {
      val materialized = store.read(spark, m.layer, m.name).get
      m.postHooks.foreach(_(materialized))
    }
  }
}
