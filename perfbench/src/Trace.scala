package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{PerfbenchSqlExecution, SparkListenerSQLExecutionEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** In-memory trace of one benchmark run: spans around the benchmark's calls
  * into the program, plus the Spark listener records that fall inside them.
  * Nothing is written until the run ends; the Python side attributes jobs
  * to spans by time and computes self times.
  *
  * Every timestamp is epoch milliseconds (fractional for spans), the clock
  * Spark's listener events carry.
  */
final class Trace(val runId: String) {
  /** Spans and listener records are taken while `on` (a traced op). The
    * records are attributed to spans by their own event times; `off`
    * drains the bus before it clears the flag, so every event a traced op
    * posts is delivered while the flag is set. */
  @volatile var on = false

  /** End a traced op: wait until the listener bus has delivered its
    * events, then stop recording. */
  def off(sc: org.apache.spark.SparkContext): Unit = {
    if (on) org.apache.spark.PerfbenchListenerDrain(sc)
    on = false
  }

  private val nano0  = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double  = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, name: String, req: Int, start: Double, var end: Double)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile var req = 0

  /** Time `body` as a span when tracing is on; otherwise just run it.
    * Spans nest on the single calling thread (the loop has one caller). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, req, nowMs, Double.NaN)
        spans += s; stack = s :: stack; s
      }
      try body
      finally synchronized { s.end = nowMs; stack = stack.tail }
    }

  // ---------------------------------------------------------- listeners

  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(stage: Int, var tasks: Int = 0, var runMs: Long = 0, var gcMs: Long = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0, var input: Long = 0, var output: Long = 0,
      durations: ArrayBuffer[Long] = ArrayBuffer.empty)
  final case class Scan(executionId: Long, at: Double, files: Long, bytes: Long)
  final case class Progress(batchId: Long, start: String, rows: Long, durations: Map[String, Long])

  val jobs     = ArrayBuffer.empty[Job]
  val stages   = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  val scans    = ArrayBuffer.empty[Scan]
  val progress = ArrayBuffer.empty[Progress]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) Trace.this.synchronized {
      jobs += Job(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) Trace.this.synchronized {
      val m  = e.taskMetrics
      val st = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.input += m.inputMetrics.bytesRead
      st.output += m.outputMetrics.bytesWritten
      st.durations += e.taskInfo.duration
    }

    /** Files and bytes each finished SQL query scanned (its scan nodes'
      * SQL metrics), stamped with the query's own end time from the event:
      * the bus delivers asynchronously, so the delivery time can fall
      * after the span that ran the query has closed. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if on =>
        val qe = PerfbenchSqlExecution.queryExecution(end)
        if (qe != null) {
          var files, bytes = 0L
          def walk(p: SparkPlan): Unit = p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec        => walk(q.plan)
            case s: FileSourceScanExec =>
              files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
              bytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
            case other => other.children.foreach(walk); other.subqueries.foreach(walk)
          }
          walk(qe.executedPlan)
          if (files > 0) Trace.this.synchronized { scans += Scan(end.executionId, end.time.toDouble, files, bytes) }
        }
      case _ =>
    }
  }

  /** Micro-batch phase durations; recorded whether or not tracing is on,
    * because the batch latency itself comes from them. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) Trace.this.synchronized {
        val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue }.toMap
        progress += Progress(p.batchId, p.timestamp, p.numInputRows, d)
        Trace.this.notifyAll()
      }
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "run_id" -> runId,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "stages" -> j.stages)),
      "stages" -> stages.values.map(s => Map("stage" -> s.stage, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "input" -> s.input, "output" -> s.output, "durations" -> s.durations)).toSeq,
      "scans" -> scans.map(s => Map("execution_id" -> s.executionId, "at" -> s.at, "files" -> s.files,
        "bytes" -> s.bytes)))
  }
}
