package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ModelStore

/** Incrementally-maintained grouped aggregates: keep a small state
  * table of ADDITIVE aggregate components per group and fold each new
  * batch into it, instead of re-scanning history every run.
  *
  * This is the aggregation analog of the pipeline's incremental MERGE
  * (SURVEY §2.9): the reference re-derives its RFM rollups from the
  * full silver tables each run (`dim_customer.sql:32-56`), which at
  * 100 TB means every daily run pays the whole history. Folding only
  * the new partition's partial aggregate costs O(batch) + O(|groups|)
  * per run — the difference between re-reading a year and reading a
  * day.
  *
  * Supported components are the self-mergeable ones: count, sum, min,
  * max (avg derives as sum/count at presentation). Contract:
  * APPEND-ONLY batches — updates/deletes are not subtractable from
  * min/max (the classic incremental-view-maintenance limit); CDC
  * updates route through the MERGE path instead, and a full refresh
  * rebuilds the state table from scratch.
  */
object IncrementalAgg {

  /** Aggregate specification: group keys + the additive components,
    * every measure held in exact integer units (cents) so merge order
    * can never change the result. */
  final case class Spec(groupCols: Seq[String], cents: Column)

  private def componentAgg(df: DataFrame, spec: Spec): DataFrame =
    df.groupBy(spec.groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(spec.cents).as("sum_cents"),
        min(spec.cents).as("min_cents"),
        max(spec.cents).as("max_cents"))

  /** Fold a batch's partial aggregate into the existing state (union +
    * re-combine: counts/sums add, min/max take extrema — one shuffle
    * over |groups| + |batch groups| rows, never over history). */
  def fold(state: Option[DataFrame], batch: DataFrame, spec: Spec)
      : DataFrame = {
    val delta = componentAgg(batch, spec)
    state match {
      case None => delta
      case Some(st) =>
        st.unionByName(delta)
          .groupBy(spec.groupCols.map(col): _*)
          .agg(sum("cnt").as("cnt"),
            sum("sum_cents").as("sum_cents"),
            min("min_cents").as("min_cents"),
            max("max_cents").as("max_cents"))
    }
  }

  /** Apply a batch against the stored state table and commit the new
    * version (ModelStore pointer-commit: readers always see a complete
    * state). Returns the updated state. */
  def applyBatch(spark: SparkSession, store: ModelStore, layer: String,
      name: String, batch: DataFrame, spec: Spec): DataFrame = {
    val next = fold(store.read(spark, layer, name), batch, spec)
    store.write(next, layer, name)
    next
  }

  /** Presentation view over the component table: derived avg plus the
    * raw components as pinned decimals. */
  def present(state: DataFrame, spec: Spec): DataFrame = {
    import graft.ops.Exact
    state.select(spec.groupCols.map(col) ++ Seq(
      col("cnt"),
      Exact.dec2(col("sum_cents")).as("total"),
      Exact.dec2(Exact.halfUpDiv(col("sum_cents"), col("cnt")))
        .as("avg_value"),
      Exact.dec2(col("min_cents")).as("min_value"),
      Exact.dec2(col("max_cents")).as("max_value")): _*)
  }

  // ------------------------------------------- driver-checkable query
  // Orders arrive as per-year append batches folded through a real
  // versioned ModelStore; the final state must equal the one-shot
  // aggregation over everything — which is exactly what the DuckDB
  // oracle computes. The driver-side year loop is the ORCHESTRATION of
  // batch arrival (like the pipeline's run loop), not data movement:
  // each fold is a distributed job over state + one batch.
  import graft.ops.Exact.{centsSql, dec2Sql, halfUpDivSql}

  val qIncrementalAgg: graft.queries.Q = graft.queries.Q(
    "q58_incremental_agg",
    s"""SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
      |  ${dec2Sql(s"sum(${centsSql("o_totalprice")})")} AS total,
      |  ${dec2Sql(halfUpDivSql(
           s"sum(${centsSql("o_totalprice")})", "count(*)"))}
      |    AS avg_value,
      |  ${dec2Sql(s"min(${centsSql("o_totalprice")})")} AS min_value,
      |  ${dec2Sql(s"max(${centsSql("o_totalprice")})")} AS max_value
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) {
    (s, d) =>
      val store = new ModelStore(graft.pipeline.PipelineQuery.tempStoreDir())
      val spec = Spec(Seq("o_custkey"),
        graft.ops.Exact.cents(col("o_totalprice")))
      // Column-pruned to exactly what the fold consumes (key, measure,
      // batch column): each fold's scan reads 3 of orders' 9 columns
      // straight off parquet — cheaper than caching the full-width
      // table was (the cache materialization itself cost more than the
      // three pruned scans it saved).
      // NULL order dates still belong to SOME arrival batch (the
      // oracle aggregates every order regardless of date): they batch
      // under the -1 sentinel instead of crashing the year collect or
      // silently never folding
      val orders = graft.io.Tables.load(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"),
          coalesce(year(col("o_orderdate")), lit(-1)).as("yr"))
      val years = orders.select("yr").distinct()
        .collect().map(_.getInt(0)).sorted
      // half the span per arrival batch: still a real multi-fold
      // chain (state read + fold + commit, twice) at the minimum
      // write-commit round-trips that exercise it;
      // IncrementalAggSpec proves arbitrarily long chains
      val span = math.max(1, (years.length + 1) / 2)
      years.grouped(span).foreach { ys =>
        applyBatch(s, store, "agg", "cust_totals",
          orders.filter(col("yr").isin(ys: _*)).drop("yr"), spec)
      }
      present(store.read(s, "agg", "cust_totals").get, spec)
        .orderBy("o_custkey")
  }.copy(sideEffecting = true)
}
