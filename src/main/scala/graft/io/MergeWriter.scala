package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{assert_true, broadcast, col, count,
  lit}

import graft.ops.PhaseTimer

/** Delta-MERGE emulation for environments without Delta jars
  * (SURVEY.md §2.1 S3/S6): the reference materializes every model with
  * `incremental_strategy='merge'` + `on_schema_change='sync_all_columns'`
  * (`customers_latest.sql:3–6` etc.) — MERGE matched→update-all,
  * not-matched→insert, target schema synced to the model's SELECT.
  *
  * [[merge]] is the frame-level MERGE: one anti-join on the merge key.
  * At scale the anti-join shuffles both sides on the key unless
  * `updates` is broadcast-small. [[upsert]] is the store's one MERGE
  * commit over it: with partitioned targets it prunes the `existing`
  * side to the updates' touched partitions, which bounds the rewrite
  * (the same optimization Delta's MERGE does with file pruning). On
  * Delta-enabled clusters this whole object is replaced by
  * `DeltaTable.merge`.
  */
object MergeWriter {

  /** Upsert `updates` into `existing` on `key`; output schema follows
    * `updates` (sync_all_columns: new columns appear null-backfilled,
    * removed columns are dropped, changed types follow the update).
    *
    * Delta's MERGE raises when one target row matches multiple source
    * rows; so does this one — duplicate keys in `updates` fail the job
    * instead of silently breaking the one-row-per-key SCD-1 invariant.
    * The check is an inline window count on the updates side (no extra
    * job, no recomputation of the updates plan). */
  def merge(existing: DataFrame, updates: DataFrame, key: String)
      : DataFrame = {
    val perKey = count(lit(1)).over(Window.partitionBy(col(key)))
    val checked = updates
      .withColumn("__merge_dup_chk", assert_true(perKey <= 1,
        lit(s"duplicate merge key '$key' in updates batch " +
          "(MERGE requires one source row per target key)")))
      .filter(col("__merge_dup_chk").isNull)
      .drop("__merge_dup_chk")
    // Null-safe (<=>) anti-join: a NULL-key update must REPLACE the
    // stored NULL-key row. Plain equality never matches NULL, so a
    // malformed-envelope row with a null key would append once per
    // incremental run — N duplicate null-key rows after N runs, and
    // the per-batch uniqueness check above can't see it (it only
    // counts within one batch). EqualNullSafe still hash-joins.
    val kept = existing.join(
      checked.select(col(key).as("__merge_k")),
      col(key) <=> col("__merge_k"), "left_anti")
    val target = checked.schema
    val keptSynced = kept.unionByName(checked.limit(0),
      allowMissingColumns = true)   // null-backfill new columns
    val aligned = keptSynced.select(target.fields.map(f =>
      col(f.name).cast(f.dataType)): _*)
    aligned.unionByName(checked)
  }

  /** The store's one MERGE commit: upsert `updates` on `key` into the
    * table `layer.name`, whose current version the caller read as
    * `existing` (None: no table yet). Rules, each stated once here:
    *
    *  - `updates` is persisted once (discovery, probe and merge all
    *    read it; unpersisted, the caller's build — source scan,
    *    CDC-dedup window — would run once per reader) and released in
    *    a `finally`;
    *  - no table yet: a plain write of the updates;
    *  - pruned arm iff `partitionBy` is non-empty, the columns are
    *    compatible ([[ModelStore.compatibleColumns]]) and the stored
    *    layout matches ([[ModelStore.hasPartitionLayout]]): only the
    *    touched partitions are rewritten, the rest carry over by link
    *    ([[ModelStore.writeTouchedPartitions]]). Touched = the updates'
    *    partitions plus those where the update keys live now — else a
    *    key whose partition value moved would keep its stale row in a
    *    carried-over dir. Otherwise a full rewrite syncs every column;
    *  - no-op: a commit with no source rows and compatible columns
    *    does not happen (Delta's no-op MERGE; a rewrite would be pure
    *    version churn). The pruned arm learns emptiness free from its
    *    discovery collect, the full arm from one limit-1 probe. A
    *    schema-drift commit always happens: it must re-sync the stored
    *    schema;
    *  - duplicate keys in `updates` fail the job, as in [[merge]].
    *
    * Phases are labeled by [[graft.ops.PhaseTimer.table]]:
    * `touched-discovery`, `pruned-merge-write`, `empty-check`,
    * `merge-write`. */
  def upsert(store: ModelStore, existing: Option[DataFrame],
      updates: DataFrame, layer: String, name: String, key: String,
      partitionBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, description: String = ""): Unit = {
    val spark = updates.sparkSession
    def timed[T](phase: String)(body: => T): T =
      PhaseTimer.table(spark, layer, name, phase)(body)
    def write(df: DataFrame): Unit =
      store.write(df, layer, name, partitionBy, zorderBy,
        description = description, statsCols = statsCols)
    val u = updates.persist()
    try existing match {
      case None => write(u)
      case Some(ex) =>
        val compatible = ModelStore.compatibleColumns(ex.schema, u.schema)
        if (partitionBy.nonEmpty && compatible &&
            store.hasPartitionLayout(spark, layer, name, partitionBy)) {
          val parts = partitionBy.map(c => col(c))
          // residence: one column-pruned semi-join against the
          // broadcast update keys. <=> (null-safe): an equality join
          // never matches NULL, so a NULL-key update would miss its
          // stored row's partition and duplicate that row.
          val residence = ex
            .join(broadcast(u.select(col(key).as("__res_k"))),
              col(key) <=> col("__res_k"), "left_semi")
            .select(parts: _*)
          val touchedDf = u.select(parts: _*).union(residence).distinct()
          val touched = timed("touched-discovery") { touchedDf.collect() }
          if (touched.nonEmpty) {
            // <=> (null-safe): a NULL partition value must still select
            // its existing rows — `=== lit(null)` is never true, which
            // would drop the whole NULL partition from the merge.
            val pred = touched.map(r =>
                partitionBy.zipWithIndex.map { case (c, i) =>
                  col(c) <=> lit(r.get(i))
                }.reduce(_ && _))
              .reduceOption(_ || _)
              .getOrElse(lit(false))
            val merged = merge(ex.filter(pred), u, key)
            timed("pruned-merge-write") {
              // the declared touched set also empties a partition whose
              // only row moved away; the collected tuples pass
              // driver-side, no marker-write job
              store.writeTouchedPartitions(merged, layer, name,
                partitionBy, zorderBy, description = description,
                touchedRows = Some((touchedDf.schema, touched.toSeq)),
                statsCols = statsCols)
            }
          }
        } else if (!(compatible && timed("empty-check")(u.isEmpty)))
          timed("merge-write") {
            write(merge(ex, u, key))
          }
    } finally { u.unpersist(); () }
  }
}
