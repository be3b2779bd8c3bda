package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, epoch milliseconds. `parent` is the id of the span
  * that caused it when known at record time (stage → job); the rest are
  * attached to their enclosing span by time when the trace is reduced. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty)

/** The benchmark's listeners. They observe the program only through Spark's
  * public listener interfaces and record spans in memory; nothing here is
  * called from inside the program. Events arrive on Spark's asynchronous
  * listener bus, so spans are matched to queries by time, not by the
  * thread that delivered them. */
final class Trace(inputDir: String, traceAll: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)

  /** Streaming triggers: always recorded, since the trigger latency is an
    * end-to-end metric; the phase split is kept only when tracing. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val total = d.getOrElse("triggerExecution", 0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val attrs =
        if (!traceAll) Map("triggerExecution" -> total)
        else d ++ Map(
          "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      add(Span(nextId(), 0, "streaming", s"trigger ${p.name}#${p.batchId}",
        start, start + total.toLong, attrs))
    }
  }

  private case class StageAcc(var tasks: Int = 0, var runMs: Double = 0,
      var cpuMs: Double = 0, var gcMs: Double = 0, var shRead: Double = 0,
      var shWrite: Double = 0, var spill: Double = 0, var result: Double = 0,
      var output: Double = 0)

  /** Jobs, stages and task metrics. */
  val scheduler: SparkListener = new SparkListener {
    private val jobSpan = mutable.Map[Int, (Long, Long)]()  // job -> (span, start)
    private val stageJob = mutable.Map[Int, Long]()          // stage -> job span
    private val acc = mutable.Map[(Int, Int), StageAcc]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = nextId()
      jobSpan(e.jobId) = (id, e.time)
      e.stageIds.foreach(s => stageJob(s) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, start) =>
        add(Span(id, 0, "exec", s"job ${e.jobId}", start, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), StageAcc())
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.result += m.resultSize
        a.output += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = acc.remove((i.stageId, i.attemptNumber())).getOrElse(StageAcc())
      val start = i.submissionTime.getOrElse(0L)
      add(Span(nextId(), stageJob.getOrElse(i.stageId, 0L), "exec",
        s"stage ${i.stageId}", start, i.completionTime.getOrElse(start),
        Map("tasks" -> a.tasks.toDouble, "task_run_ms" -> a.runMs,
          "task_cpu_ms" -> a.cpuMs, "task_gc_ms" -> a.gcMs,
          "shuffle_read_b" -> a.shRead, "shuffle_write_b" -> a.shWrite,
          "spill_b" -> a.spill, "result_b" -> a.result,
          "output_b" -> a.output)))
    }
  }

  /** Catalyst phases of every executed plan, and the fixture scans in it. */
  val planning: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private val root = new java.io.File(inputDir).getCanonicalFile.toURI.getPath
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, s) =>
        add(Span(nextId(), 0, "plans", phase, s.startTimeMs, s.endTimeMs))
      }
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(
              _.toUri.getPath.startsWith(root)) => s
      }
      if (scans.nonEmpty) {
        def metric(s: FileSourceScanExec, k: String): Double =
          s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        // stamped at the end of planning, which lies inside the query that
        // ran the plan (delivery time on the bus may not)
        val at = qe.tracker.phases.values.map(_.endTimeMs).maxOption
          .getOrElse(System.currentTimeMillis())
        add(Span(nextId(), 0, "Tables", "scan", at, at, Map(
          "scan_bytes" -> scans.map(metric(_, "filesSize")).sum,
          "scan_rows" -> scans.map(metric(_, "numOutputRows")).sum,
          "scan_tasks" -> scans.map(_.inputRDD.getNumPartitions.toDouble).sum)))
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
