package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out when the run ends. With tracing off
  * `span` only runs its body, so the untraced run pays nothing for it. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: String,
                        startMs: Double, endMs: Double)

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var next = 0

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same clock as Spark's listener event times. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[A](name: String, op: String)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { next += 1; next }
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack.set(outer)
        synchronized { spans += Span(id, name, outer.headOption.getOrElse(0), op, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Task, stage and job counters from a SparkListener, kept per job with the
  * job group (`spark.jobGroup.id`) each job and stage ran under, so the
  * harness can attribute them to the op that set the group. */
final class JobLog extends SparkListener {
  final class Job(val group: String, val startMs: Long) { var endMs: Long = -1L }
  final class Stage(val group: String, val submittedMs: Long) {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var shuffleWriteNs = 0L
    var shuffleReadBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(group(e.properties), e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new Stage(group(e.properties), i.submissionTime.getOrElse(System.currentTimeMillis())))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters of the jobs and stages whose group `sel` accepts, over
    * `windowMs` (the op's wall interval, for the busy and driver-gap split).
    * With `startedInWindow`, only jobs and stages that started inside the
    * window count: for a group that spans several ops, such as a streaming
    * query's. */
  def summary(sel: String => Boolean, windowMs: (Double, Double),
              startedInWindow: Boolean = false): Map[String, Double] =
    synchronized {
      val (w0, w1) = windowMs
      def inWindow(ms: Long) = !startedInWindow || (ms >= w0 && ms <= w1)
      val js = jobs.values.filter(j => sel(j.group) && inWindow(j.startMs)).toSeq
      val ss = stages.values.filter(s => sel(s.group) && s.tasks > 0 && inWindow(s.submittedMs)).toSeq
      // Union of job intervals clipped to the window: time with >= 1 job running.
      val iv = js.map(j => (math.max(j.startMs.toDouble, w0),
          math.min((if (j.endMs < 0) w1 else j.endMs.toDouble), w1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0.0; var cs = Double.NaN; var ce = Double.NaN
      iv.foreach { case (a, b) =>
        if (ce.isNaN || a > ce) { if (!ce.isNaN) busy += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (!ce.isNaN) busy += ce - cs
      Map(
        "jobs" -> js.size.toDouble,
        "stages" -> ss.size.toDouble,
        "tasks" -> ss.map(_.tasks).sum.toDouble,
        "single_task_stages" -> ss.count(_.tasks == 1).toDouble,
        "task_run_s" -> ss.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ss.map(_.gcMs).sum / 1e3,
        "shuffle_write_bytes" -> ss.map(_.shuffleWriteBytes).sum.toDouble,
        "shuffle_write_s" -> ss.map(_.shuffleWriteNs).sum / 1e9,
        "shuffle_read_bytes" -> ss.map(_.shuffleReadBytes).sum.toDouble,
        "fetch_wait_s" -> ss.map(_.fetchWaitMs).sum / 1e3,
        "spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
        "busy_s" -> busy / 1e3,
        "wall_s" -> (w1 - w0) / 1e3)
    }

  /** Start times (epoch ms) of the jobs `sel` accepts. */
  def jobStarts(sel: String => Boolean): Seq[Long] =
    synchronized(jobs.values.filter(j => sel(j.group)).map(_.startMs).toSeq)
}

/** Catalyst optimization + physical planning time of every query execution
  * Spark reports, stamped with when planning started. */
final class PlanLog extends QueryExecutionListener {
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("optimization", "planning").flatMap(ph.get)
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val at = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    synchronized { plans += ((at, ms)) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Planning seconds of executions that started planning inside the window. */
  def seconds(windowMs: (Double, Double)): Double = synchronized {
    plans.collect { case (at, ms) if at >= windowMs._1 && at <= windowMs._2 => ms }.sum / 1e3
  }
}

/** Every micro-batch progress report of the streaming queries. */
final class ProgressLog extends StreamingQueryListener {
  private val reports = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { reports += e.progress }
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(reports.toList)
}
