package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional for
  * spans the benchmark itself opens). Every span of one operation
  * carries that operation's id; `parent` names the enclosing span kind.
  */
final case class Span(op: String, name: String, parent: String,
    startMs: Double, endMs: Double)

/** Scheduler counters of one operation, summed over its tasks. */
final class ExecCounters {
  var jobs, stages, tasks, tasksFailed, stageReattempts = 0L
  var schedulerDelayMs, deserMs, runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var observed = Map.empty[String, Long]

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "tasks_failed" -> tasksFailed, "stage_reattempts" -> stageReattempts,
    "scheduler_delay_ms" -> schedulerDelayMs, "task_deser_ms" -> deserMs,
    "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs, "task_gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "observed" -> observed)
}

/** Counts tasks per operation. Attached in every run (one counter
  * bump per task), so a memo-cache hit shows as an operation that
  * launched (almost) no tasks even when tracing is off.
  */
final class TaskCounter extends SparkListener {
  private val n = new AtomicLong
  def get: Long = n.get
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = n.incrementAndGet()
}

/** Spark's public listeners, attached from outside graft: the SQL
  * `QueryExecutionListener` ([[SqlTraceListener]], in every session;
  * plan phases from `QueryPlanningTracker`),
  * a `SparkListener` (jobs, stages, tasks) and a
  * `StreamingQueryListener` (micro-batch progress). Events are
  * attributed to the operation named by [[op]]; callers drain the
  * listener bus before switching operations, so an event is always
  * delivered while its own operation is current. Spans stay in memory
  * and are written out once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  @volatile var op: String = "setup"
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = mutable.Map.empty[String, ExecCounters]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  def countersOf(o: String): ExecCounters = synchronized {
    counters.getOrElseUpdate(o, new ExecCounters)
  }

  private def cur: ExecCounters = countersOf(op)

  /** Runs `body` as span `name` of the current operation. */
  def span[T](name: String, parent: String)(body: => T): T = {
    val t0 = Clock.epochMs()
    try body finally spans.add(Span(op, name, parent, t0, Clock.epochMs()))
  }

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      cur.jobs += 1
      jobStart(e.jobId) = (op, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (o, t0) =>
        spans.add(Span(o, "job", "action", t0.toDouble, e.time.toDouble))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        cur.stages += 1
        if (e.stageInfo.attemptNumber() > 0) cur.stageReattempts += 1
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        spans.add(Span(op, "stage", "job", s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = cur
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        val ti = e.taskInfo
        val dur = ti.finishTime - ti.launchTime
        c.schedulerDelayMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L))
        c.deserMs += m.executorDeserializeTime
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Plan phases of one SQL execution, from its `QueryPlanningTracker`,
    * and its observed metrics; called by [[SqlTraceListener]].
    */
  def recordSql(qe: QueryExecution): Unit = synchronized {
    val c = cur
    qe.tracker.phases.foreach { case (phase, p) =>
      spans.add(Span(op, s"plan.$phase", "action",
        p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      phase match {
        case "analysis"     => c.analysisMs += p.durationMs
        case "optimization" => c.optimizationMs += p.durationMs
        case "planning"     => c.planningMs += p.durationMs
        case _              => ()
      }
    }
    qe.observedMetrics.values.foreach { row =>
      row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
        row.get(i) match {
          case v: java.lang.Long => c.observed += f -> (c.observed.getOrElse(f, 0L) + v)
          case _                 => ()
        }
      }
    }
  }

  private val stream = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        p.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      spans.add(Span(op, "microbatch", "op", start, end))
      p.durationMs.asScala.foreach { case (k, v) =>
        if (k != "triggerExecution")
          spans.add(Span(op, s"microbatch.$k", "microbatch", start, start + v.doubleValue))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    SqlTraceListener.active = Some(this)
    spark.streams.addListener(stream)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sched)
    SqlTraceListener.active = None
    spark.streams.removeListener(stream)
  }

  def drain(): Unit =
    org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)

  def spansJson: Seq[Map[String, Any]] = spans.asScala.toSeq.map(s =>
    Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

/** The SQL listener every session of the run has, named by the static
  * `spark.sql.queryExecutionListeners` when the session is built: Spark
  * instantiates it in each new session too, including those graft's
  * pipelines create with `newSession()` and the streaming engine's
  * cloned sessions. It forwards to the active tracer, if any.
  */
final class SqlTraceListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = SqlTraceListener.active.foreach(_.recordSql(qe))
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = SqlTraceListener.active.foreach(_.recordSql(qe))
}

object SqlTraceListener {
  @volatile var active: Option[Tracer] = None
}

/** Epoch milliseconds with sub-millisecond resolution: the wall clock
  * read once, advanced by the monotonic clock.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def epochMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
