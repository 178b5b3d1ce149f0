package perfbench

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.ModelStore
import graft.model.{Pipeline, RunMode}
import graft.pipeline.{DemoCdc, PipelineQuery, ReferenceModels}

/** The paper's medallion pipeline: DemoCdc bronze feeds, one Bootstrap
  * run over the historical slice, then incremental runs over a
  * cumulatively growing order feed. The seed picks the cut dates
  * between runs; the last incremental run always reaches the end of
  * the feed, so the final gold table must equal one full refresh over
  * the whole feed. */
object Medallion extends Workload {
  private val FeedEnd = Date.valueOf("2001-09-01")
  private def days(d: Date): Long = d.toLocalDate.toEpochDay
  private def date(day: Long): Date =
    Date.valueOf(java.time.LocalDate.ofEpochDay(day))

  /** Timed incremental runs per process, 11-15 s each at sf0.1 on 4
    * cores whatever their window (39 Spark jobs, about 60% of the run
    * inside them, and a full recompute of the gold model). Set-up
    * costs about 40 s more, so the benchmark's 10 s runs time one. */
  def timedRuns(seconds: Int): Int = math.max(1, seconds / 10)

  /** The bootstrap slice ends here, three years into the feed; the
    * timed runs share the rest of it, so every seed consumes the same
    * rows in the timed span. */
  val BootstrapCut: Date = Date.valueOf("1998-01-01")

  /** Cut dates: BootstrapCut, then one per incremental run with seeded
    * spacing; the last one is FeedEnd (so with one run the seed picks
    * nothing). */
  def cuts(seed: Long, runs: Int): Seq[Date] = {
    val rnd = new scala.util.Random(seed)
    val w = Seq.fill(runs)(0.6 + 0.8 * rnd.nextDouble())
    val span = (days(FeedEnd) - days(BootstrapCut)).toDouble
    val steps = w.scanLeft(0.0)(_ + _).tail.map(x => days(BootstrapCut) +
      math.round(span * x / w.sum))
    (BootstrapCut +: steps.init.map(date)) :+ FeedEnd
  }

  def run(r: Run): Unit = {
    val s = r.spark
    val d = s"${r.opts.data}/sf0.1"
    r.inputBytes = inputBytes(d, Seq("customer", "nation", "orders"))
    val models = new ReferenceModels(PipelineQuery.clock)
    val runs = timedRuns(r.opts.seconds)
    val cut = cuts(r.opts.seed, runs)
    r.log(s"cuts ${cut.mkString(" ")}")

    val (cust, ord, perDay) = r.segment("pipeline.feed_synth") {
      val c = DemoCdc.customersCdc(s, d, distribute = true).persist()
      val o = DemoCdc.ordersCdc(s, d, distribute = true).persist()
      c.count()
      // CDC rows per day, to count each run's new rows outside its op
      val pd = o.groupBy(col("_cdc_timestamp").cast("date").as("d"))
        .count().collect().map(x => days(x.getDate(0)) -> x.getLong(1))
      (c, o, pd)
    }
    def newRows(from: Date, to: Date): Long = perDay.collect {
      case (day, n) if day >= days(from) && day < days(to) => n
    }.sum

    val store = new ModelStore(r.storeDir("medallion"))
    // the bronze feed as delivered up to `to`
    def feed(to: Date): (String, String) => DataFrame = {
      case (_, "customers_cdc") => cust
      case (_, "orders_cdc") =>
        if (to == FeedEnd) ord
        else ord.filter(col("_cdc_timestamp") < lit(to))
      case (_, other) => sys.error(s"unknown source $other")
    }
    var failedModels, skippedModels = 0
    def runModels(mode: RunMode, to: Date): Unit = {
      val rep = r.trace.span(s"model.run.$mode")(
        new Pipeline(models.all, store, feed(to)).runReport(s, mode))
      failedModels += rep.failed.size
      skippedModels += rep.skipped.size
      if (rep.failed.nonEmpty || rep.skipped.nonEmpty)
        sys.error(s"models failed: ${rep.failed.mkString(",")}; " +
          s"skipped: ${rep.skipped.mkString(",")}")
    }

    r.segment("bootstrap")(runModels(RunMode.Bootstrap, cut.head))
    r.walkStores()
    cut.sliding(2).foreach { case Seq(from, to) =>
      r.op("incremental") {
        runModels(RunMode.Incremental, to)
        newRows(from, to)
      }
    }
    r.inputRows = r.ops.map(_.rows).sum
    r.extra("model.models_failed") = failedModels
    r.extra("model.models_skipped") = skippedModels

    // the ConvergenceSpec property: incremental runs land the same
    // gold table as one full refresh over the whole feed (created_at
    // follows run boundaries by the reference's own rule). The full
    // refresh is recorded in `expected/`: running it live would add
    // 11 s to every run. On a mismatch it runs live, to tell a broken
    // convergence from a deliberate change of the models' output.
    val expected = java.nio.file.Paths.get(r.opts.data)
      .resolveSibling(ExpectedDir).toString
    r.check("dim_customer equals a one-shot bootstrap over the feed") {
      val got = r.trace.span("io.store_read")(
        store.read(s, "gold", "dim_customer").get).drop("created_at")
      val same = new java.io.File(expected).isDirectory &&
        sameByKey(got, s.read.parquet(expected), "customer_id")
      if (!same) {
        val refStore = new ModelStore(r.storeDir("medallion-ref"))
        new Pipeline(models.all, refStore, feed(FeedEnd))
          .run(s, RunMode.Bootstrap)
        val want = refStore.read(s, "gold", "dim_customer").get
          .drop("created_at")
        val keep = s"${new java.io.File(r.opts.work).getParent}/$ExpectedDir"
        want.coalesce(1).write.mode("overwrite").parquet(keep)
        r.log(s"a live full refresh ${if (sameByKey(got, want,
          "customer_id")) "equals" else "differs from"} the incremental " +
          s"result; it is written to $keep, to replace $expected after " +
          "a deliberate change of the models' output")
      }
      same
    }
    cust.unpersist(); ord.unpersist(); ()
  }

  /** The recorded full refresh, beside the input tables. */
  val ExpectedDir = "expected/medallion_dim_customer"
}
