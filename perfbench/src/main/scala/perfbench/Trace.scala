package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One call into the program, timed from the benchmark's side.
  * `parent` is -1 for a top-level span; times are `System.nanoTime`.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def nanos: Long = end - start
}

object Span {
  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children (overlapping children count once).
    */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curStart = Long.MinValue
      var curEnd = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = a; curEnd = b
        } else curEnd = math.max(curEnd, b)
      }
      if (curEnd > curStart) covered += curEnd - curStart
      s.id -> (s.nanos - covered)
    }.toMap
  }
}

/** Wraps calls into the program. The untraced form only runs the call,
  * so end-to-end timings carry no tracing cost.
  */
sealed trait Spans {
  def apply[A](name: String)(f: => A): A
}

object NoSpans extends Spans {
  def apply[A](name: String)(f: => A): A = f
}

/** Records spans in memory and tags every Spark job submitted inside one
  * with the span's id (a thread-local job property), so [[Recorder]] can
  * attribute jobs, stages and tasks to the innermost enclosing span.
  */
final class Tracer(sc: SparkContext) extends Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  private var current = -1

  def apply[A](name: String)(f: => A): A = {
    val id = next
    next += 1
    val parent = current
    current = id
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(id, name, parent, t0, System.nanoTime())
      current = parent
      sc.setLocalProperty(Tracer.SpanKey, if (parent < 0) null else parent.toString)
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** What one finished task cost, with the span that submitted its job
  * (-1 when none).
  */
final case class TaskCost(stage: Int, span: Int, waitMs: Long,
    runMs: Long, cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, failed: Boolean)

/** One SQL execution: its physical plan text (which names the paths it
  * reads and writes), wall interval in epoch ms, and its jobs' span.
  */
final case class Execution(id: Long, plan: String, startMs: Long, endMs: Long, span: Int) {
  def seconds: Double = math.max(0L, endMs - startMs) / 1000.0
  def isWrite: Boolean = plan.contains("InsertIntoHadoopFsRelationCommand")
  /** Whether the plan names `path` as a whole path component chain. */
  def touches(path: String): Boolean = {
    var i = plan.indexOf(path)
    var hit = false
    while (i >= 0 && !hit) {
      val after = i + path.length
      hit = after >= plan.length || !(plan.charAt(after).isLetterOrDigit || plan.charAt(after) == '_')
      i = plan.indexOf(path, i + 1)
    }
    hit
  }
}

/** A SparkListener, registered by the benchmark for traced iterations,
  * that keeps jobs, SQL executions and per-task costs in memory.
  */
final class Recorder extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobExec = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val execStart = mutable.Map.empty[Long, (String, Long)]
  private val execEnd = mutable.Map.empty[Long, Long]
  private val taskBuf = mutable.ArrayBuffer.empty[TaskCost]

  def clear(): Unit = synchronized {
    jobSpan.clear(); jobExec.clear(); stageJob.clear(); stageSubmitted.clear()
    execStart.clear(); execEnd.clear(); taskBuf.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    jobSpan(e.jobId) = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobExec(e.jobId) = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val job = stageJob.getOrElse(e.stageId, -1)
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    taskBuf += TaskCost(e.stageId, jobSpan.getOrElse(job, -1),
      waitMs = math.max(0L, info.launchTime - stageSubmitted.getOrElse(e.stageId, info.launchTime)),
      runMs = info.duration,
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L),
      inputBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      outputBytes = m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      failed = info.failed || info.killed)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = (s.physicalPlanDescription, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized { execEnd(s.executionId) = s.time }
    case _ =>
  }

  def jobs: Map[Int, Int] = synchronized(jobSpan.toMap)
  def jobExecutions: Map[Int, Long] = synchronized(jobExec.toMap)
  def tasks: Seq[TaskCost] = synchronized(taskBuf.toSeq)

  def executions: Seq[Execution] = synchronized {
    val spanOfExec = jobExec.toSeq.collect { case (j, x) if x >= 0 => x -> jobSpan(j) }.toMap
    execStart.toSeq.collect { case (id, (plan, start)) if execEnd.contains(id) =>
      Execution(id, plan, start, execEnd(id), spanOfExec.getOrElse(id, -1))
    }.sortBy(_.id)
  }
}
