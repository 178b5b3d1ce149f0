package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session tuning shared by every entrypoint (Bench,
  * Verify, tools, tests) so measured behavior is the shipped
  * behavior. */
object SparkTuning {
  /** One shipped configuration: the winners of the round-5
    * 4-config × 3-sweep A/B recorded in BASELINE.md §round-5. */
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    // One timezone for every entrypoint: correctness is verified under
    // UTC (the oracle compares timestamp/date bucketing values), so the
    // bench must execute the same semantics — a host-local timezone
    // would time DIFFERENT work (different session/day/cohort buckets)
    // than what Verify validated.
    .config("spark.sql.session.timeZone", "UTC")
    // ObjectHashAggregate (TopKAgg / BoundedSetAgg, the bounded
    // per-group buffers behind top-k and inverted-index pair
    // generation) falls back to SORT-based aggregation once the
    // in-memory hash map passes this row count — the 128-row default
    // degenerates every high-cardinality object aggregation into a
    // full sort plus per-merge buffer ser/de. The buffers are k-bounded
    // by construction (that is their point), so a deeper map is safe:
    // 64k entries × a ~51-element boxed buffer ≈ 100 MB worst case per
    // task; the fallback stays on as the safety valve for tasks whose
    // groups all run at the cap.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    // FileOutputCommitter stays at v1 (the default). Round 4 shipped
    // v2 (task outputs rename at TASK commit, parallel, instead of the
    // driver's serial JOB-commit pass) on the theory that ModelStore's
    // many small versioned writes pay v1's serial rename pass twice —
    // but the round-5 interleaved A/B (4 configs × 3 full sf0.1
    // sweeps, BASELINE.md §round-5) measured NO benefit on any
    // write-heavy query (q34/q36/q58/q86/q91/q92 all neutral to
    // slightly better under v1): on a local filesystem the rename is a
    // metadata move, so the serial pass the theory charges for is
    // microseconds per file. Keep-winners-only ⇒ revert. On a real
    // object-store deployment v2 (or a manifest committer) is worth
    // re-measuring.
    .config(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "1")
    // Timestamps write as INT64 TIMESTAMP_MICROS instead of Spark's
    // legacy INT96 default. INT96 is deprecated in the parquet format
    // and — decisively here — carries NO column statistics (parquet
    // refuses its broken ordering), so a stored table's timestamp
    // columns get neither row-group min/max skipping under watermark
    // predicates nor commit-time footer stats (graft.io.ParquetStats,
    // the O(1) high-watermark lookup). Micros matches Spark's own
    // in-memory precision — no value change on round-trip.
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Generated-code cache: 1000 classes instead of the default 100.
    // One doc_ingest batch (IncrementalDedup + NearDupIndex, ~50 small
    // jobs) generates more than 100 distinct classes, so the LRU
    // evicted each one before the next batch asked for it again and
    // every batch recompiled byte-identical code. This setting alone,
    // A/B on perfbench doc_ingest (4 vCPU, `--seconds 10`, 8
    // alternating pairs): wall_s median 3.018 → 2.730 s, faster in
    // 8/8; the timed batch compiles 54 classes instead of 111
    // (CodeGenerator's "Code generated in" log); peak_heap_mb
    // 77.5 → 79.9. A static conf: it binds when the JVM's first codegen
    // builds the cache, so it belongs here, not in a runtime conf.
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    // AQE partition coalescing stays at the Spark default
    // (`parallelismFirst=true`). The `false`+16 MB-advisory variant —
    // attractive on paper for intermediate-small shuffles, and the
    // right setting on a real cluster where tasks have scheduling
    // cost — was A/B-measured here and collapsed sf-scale CPU-bound
    // post-shuffle stages (shingling, model builds, histogram walks)
    // onto 1–2 threads of the 32 available: q34 63.9→37.3 s,
    // q75 5.0→2.6 s, q24 5.8→4.3 s just by reverting. In local mode
    // task launch is cheap and parallelism is everything; production
    // cluster deploys should re-tune advisoryPartitionSizeInBytes for
    // their shuffle sizes rather than inherit a local-mode setting.

  /** The local session every entrypoint builds: `local[cpus]` with one
    * shuffle partition per core and no UI. `cpus` defaults to
    * `SPARK_GRAFT_CPUS` (4 when unset). */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession.Builder =
    apply(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
}
