package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Deterministic data amplifier: materializes an N× copy of a testdata
  * scale factor (keys offset per replica so cardinalities scale too;
  * document texts get a per-replica suffix token so they are distinct
  * near-duplicates, which is the realistic hard case for the dedup
  * operators). Lets the bench run one scale level beyond the shipped
  * data — e.g. 10× sf0.1 ≈ sf1: 6M lineitem rows.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> [factor]
  *   [tables] — optional comma-list restricting output to those tables
  */
object ScaleUp {

  /** Every table this amplifier knows how to write — the validation
    * set for `only` (a typo like "embedings" used to write nothing
    * and exit 0, indistinguishable from success). */
  val KnownTables: Set[String] =
    Set("region", "nation", "supplier", "part", "customer",
      "lineitem", "orders", "events", "documents", "embeddings")

  /** `only`: restrict the amplified output to the named tables — the
    * deep-decade probes (e.g. 1000× embeddings for the KNN-family
    * envelope) need ONE table three decades up, not a 600M-row
    * lineitem alongside it. Default amplifies everything. Unknown
    * names fail fast (never a silent no-op run). */
  def amplify(spark: SparkSession, src: String, out: String, factor: Int,
      only: Option[Set[String]] = None): Unit = {
    only.foreach { o =>
      val unknown = o -- KnownTables
      require(unknown.isEmpty,
        s"unknown table(s) ${unknown.toSeq.sorted.mkString(", ")} — " +
          s"known: ${KnownTables.toSeq.sorted.mkString(", ")}")
    }
    def want(name: String): Boolean = only.forall(_.contains(name))
    def replicate(name: String, f: (DataFrame, Int) => DataFrame): Unit =
      if (want(name)) {
        val base = Tables.load(spark, src, name)
        val copies = (0 until factor).map(i => f(base, i))
        copies.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
    val K = 1000000000L

    // small dimensions stay as-is (realistic: facts grow, dims grow
    // slower); customer must replicate WITH its dependents' offsets —
    // events.user_id and orders.o_custkey are FKs into c_custkey, and
    // an offset on only the fact side would orphan every replica's
    // rows (an amplified q74/q09 join would then measure a degenerate
    // ~1/factor match rate, not the operator at scale)
    Seq("region", "nation", "supplier", "part")
      .filter(want).foreach { n =>
        Tables.load(spark, src, n)
          .write.mode("overwrite").parquet(s"$out/$n.parquet")
      }
    replicate("customer", (df, i) => df
      .withColumn("c_custkey", col("c_custkey") + lit(i * K)))
    replicate("lineitem", (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * K)))
    replicate("orders", (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * K))
      .withColumn("o_custkey", col("o_custkey") + lit(i * K)))
    // same K offset as every other key: amplified metrics assume
    // DISJOINT per-replica key ranges — a smaller user_id stride would
    // overlap at higher source SFs and silently merge distinct users,
    // skewing dedup/sessionization/distinct-count cardinalities
    replicate("events", (df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * K))
      .withColumn("user_id", col("user_id") + lit(i * K)))
    replicate("documents", (df, i) => df
      .withColumn("doc_id", col("doc_id") + lit(i * K))
      .withColumn("text", concat(col("text"), lit(s" replica$i")))
      // the derived column must track the suffixed text, or the
      // amplified corpus is internally inconsistent (n_chars-bucketed
      // signals contradict length(text)-based ones)
      .withColumn("n_chars", length(col("text")).cast("long")))
    // replicas keep byte-identical vectors ON PURPOSE: cosine-based
    // dedup treats exact and near duplicates identically (≥ threshold),
    // so identical replicas exercise the same grown-cluster regime the
    // suffixed documents do — within-cluster candidate pairs grow
    // quadratically with cluster size under EITHER choice, which is
    // the inherent (and intended) hard case of amplifying duplicate
    // clusters, not an artifact of byte identity
    replicate("embeddings", (df, i) => df
      .withColumn("vec_id", col("vec_id") + lit(i * K)))
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // an all-empty list means every table, as in Verify and Bench
    val only = Option.when(args.length > 3)(
      graft.Harness.names(args(3)).toSet).filter(_.nonEmpty)
    val spark = graft.SparkTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, src, out, factor, only)
    spark.stop()
  }
}
