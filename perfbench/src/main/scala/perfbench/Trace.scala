package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval the benchmark records around a call into a
  * layer: `op` is the operation id it belongs to (-1 for set-up). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int)

/** Spark-side record of one job, in the benchmark's nanosecond clock. */
final case class JobRec(id: Int, startNs: Long, var endNs: Long,
    desc: String, var stages: Int = 0,
    var tasks: Int = 0, var tasksFailed: Int = 0, var taskNs: Long = 0L,
    var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
    var spill: Long = 0L, var input: Long = 0L)

/** Planning time (analysis, optimization, physical planning) of one
  * Dataset action. */
final case class ActionRec(startNs: Long, planNs: Long)

/** Spans in memory, plus (when `traced`) a SparkListener and a
  * QueryExecutionListener attached from outside the engine. Untraced,
  * `span` only runs its body, so end-to-end runs pay nothing. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  // Spark stamps events with wall-clock milliseconds; anchor them to
  // the monotonic clock the benchmark's own spans use
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, name, t0, System.nanoTime(), parent, currentOp)
      }
    }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob =
    new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val actions =
    new java.util.concurrent.ConcurrentLinkedQueue[ActionRec]()
  @volatile private var lastEventNs = System.nanoTime()

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, msToNs(e.time), -1L, desc))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endNs = msToNs(e.time))
      lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized {
        j.stages += 1
      })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      job(e.stageId).foreach(j => j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.tasksFailed += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskNs += m.executorRunTime * 1000000L
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
        }
      })
      lastEventNs = System.nanoTime()
    }
    private def job(stage: Int): Option[JobRec] =
      Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))
  }

  private object actionListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      val start = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      actions.add(ActionRec(msToNs(start), plan * 1000000L))
      lastEventNs = System.nanoTime()
    }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
  }

  /** Listener events arrive asynchronously: wait until every started
    * job has ended and no event has arrived for a short quiet spell. */
  def drain(): Unit = if (traced) {
    val deadline = System.nanoTime() + 30000000000L
    def settled: Boolean = {
      var open = false
      jobs.forEach((_, j) => if (j.endNs < 0) open = true)
      !open && System.nanoTime() - lastEventNs > 300000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }
}
