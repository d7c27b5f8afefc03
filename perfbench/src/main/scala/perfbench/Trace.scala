package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch microseconds. `parent` is a
  * span id, or -1 while a job waits to be attached to its batch. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, attrs: Map[String, String] = Map.empty)

/** In-memory span store. Spans are kept until the run ends and written
  * out once; the driver thread and the listener threads both add. */
object Tracer {
  val on = new AtomicBoolean(false)
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val t0Us = System.currentTimeMillis() * 1000
  private val t0Ns = System.nanoTime()

  /** Current time in epoch microseconds, from the monotonic clock. */
  def nowUs(): Long = t0Us + (System.nanoTime() - t0Ns) / 1000

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (on.get) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Task metrics summed over the traced passes. */
final class JobTotals {
  var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var peakExecMem = 0L
}

/** SparkListener registered through `spark.extraListeners`. Records a
  * span per job and stage, parented to the driver span that was open
  * when the job was submitted (a local property), and sums the task
  * metrics the per-layer table reports. Records nothing while the
  * tracer is off. */
class JobListener extends SparkListener {
  private val jobStart = mutable.Map[Int, (Long, Long, Option[(String, Long)])]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracer.on.get) synchronized {
    val p = Option(e.properties)
    val parent = p.flatMap(x => Option(x.getProperty(JobListener.SpanProp))).map(_.toLong).getOrElse(0L)
    // Jobs of a micro-batch carry its query and batch ids; they are
    // attached to that batch's span once its progress event arrives.
    val batch = for {
      x <- p; q <- Option(x.getProperty("sql.streaming.queryId"))
      b <- Option(x.getProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)
    jobStart(e.jobId) = (e.time * 1000, parent, batch)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Tracer.on.get) synchronized {
    jobStart.remove(e.jobId).foreach { case (start, parent, batch) =>
      val attrs = Map("job" -> e.jobId.toString) ++
        batch.map { case (q, b) => "batch" -> s"$q/$b" }
      Tracer.add(Span(JobListener.jobSpanId(e.jobId), if (batch.isDefined) -1 else parent,
        "job", start, e.time * 1000, attrs + ("driver_parent" -> parent.toString)))
      JobListener.jobs.incrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (Tracer.on.get) synchronized {
    val i = e.stageInfo
    for (start <- i.submissionTime; end <- i.completionTime; job <- stageJob.get(i.stageId))
      Tracer.add(Span(Tracer.nextId(), JobListener.jobSpanId(job), "stage", start * 1000,
        end * 1000, Map("stage" -> i.stageId.toString, "tasks" -> i.numTasks.toString)))
    JobListener.stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Tracer.on.get && e.taskMetrics != null) synchronized {
    val m = e.taskMetrics
    val t = JobListener.all
    t.tasks += 1
    t.runMs += m.executorRunTime
    t.cpuNs += m.executorCpuTime
    t.gcMs += m.jvmGCTime
    t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    t.input += m.inputMetrics.bytesRead
    t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
  }
}

object JobListener {
  /** Local property naming the driver span that submits a job. */
  val SpanProp = "perfbench.span"
  val jobs = new AtomicLong(0)
  val stages = new AtomicLong(0)
  val all = new JobTotals

  /** Job span ids live in their own range so stages can name their job
    * before the job span itself is recorded. */
  def jobSpanId(jobId: Int): Long = (1L << 40) + jobId
}

/** One micro-batch as reported by `StreamingQueryProgress`. */
final case class Batch(queryId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long, stateRows: Long,
    stateMemBytes: Long, stateCommitMs: Long, lateDropped: Long)

/** Streaming listener registered through the static
  * `spark.sql.streaming.streamingQueryListeners` conf, so it reaches the
  * `newSession()` sessions the replay harness creates. Every session
  * gets its own instance; all of them record into [[BatchLog]]. */
class BatchListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators
    BatchLog.batches.add(Batch(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
  }
}

object BatchLog {
  val batches = new ConcurrentLinkedQueue[Batch]()

  /** Waits until no listener event has arrived for `quietMs`: the
    * listener bus delivers them asynchronously after a query stops. */
  def drain(quietMs: Long = 300): Unit = {
    def seen = batches.size + JobListener.jobs.get + JobListener.stages.get
    var n = -1L
    while (n != seen) { n = seen; Thread.sleep(quietMs) }
  }
}

/** Operator counts read from a query's final (post-AQE) physical plan. */
object PlanShape {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def counts(p: SparkPlan): Map[String, Int] = {
    val names = nodes(p).map(_.getClass.getSimpleName)
    def n(f: String => Boolean) = names.count(f)
    Map(
      "exchanges" -> n(s => s.endsWith("ExchangeExec") && !s.startsWith("Reused")),
      "sorts" -> n(_ == "SortExec"),
      "windows" -> n(s => s == "WindowExec" || s == "WindowGroupLimitExec"),
      "smj" -> n(_ == "SortMergeJoinExec"),
      "bhj" -> n(_ == "BroadcastHashJoinExec"))
  }
}
