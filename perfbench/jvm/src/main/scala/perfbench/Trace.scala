package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

/** One timed region around a call into the library. Times are epoch
  * milliseconds (comparable with Spark's event times) plus a nanosecond
  * duration. `parent` is -1 for a root span; `run` numbers the unit of
  * work the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      start: Long, startNs: Long) {
  var end: Long = start
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder kept in memory and written once when the run ends.
  * Disabled, `span` only runs its body. The harness drives the library
  * from one thread, so nesting follows a plain stack. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var enabled = false
  var run = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        run, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.end = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> s.run, "start_ms" -> s.start, "end_ms" -> s.end,
      "seconds" -> s.seconds)
  }

  /** Duration minus the part covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

/** Records every job, stage and task the scheduler reports, with the
  * time it happened, so any span can later sum the events inside it. */
final class Recorder extends SparkListener {
  final case class Job(start: Long, var end: Long)
  final case class Task(launch: Long, cpuNs: Long, gcMs: Long,
                        shuffleBytes: Long, spillBytes: Long,
                        bytesWritten: Long, recordsWritten: Long)
  private val jobMap = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobMap.put(e.jobId, Job(e.time, Long.MaxValue))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobMap.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, m.executorCpuTime,
      m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten))
  }
  def jobs: Seq[Job] = jobMap.values().asScala.toSeq
}

/** Counts codegen fallbacks: Spark logs one warning per plan that
  * falls back from generated code to interpreted execution. */
final class CodegenAppender extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val times = new ConcurrentLinkedQueue[java.lang.Long]()
  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage.toLowerCase
    if (msg.contains("codegen") &&
        (msg.contains("disabled") || msg.contains("falling back")))
      times.add(e.getTimeMillis)
  }
}

object CodegenAppender {
  def install(): CodegenAppender = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new CodegenAppender
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    app
  }
}

/** Engine counters summed over the events inside one span. */
final case class Counters(wall: Double, jobs: Int, stages: Int, tasks: Int,
                          taskCpu: Double, gc: Double, shuffleMb: Double,
                          spillMb: Double, writtenMb: Double, records: Long,
                          driver: Double, codegenFallbacks: Int)

object Counters {
  private val MB = 1024.0 * 1024.0

  def of(s: Span, rec: Recorder, app: CodegenAppender): Counters = {
    def in(t: Long) = t >= s.start && t <= s.end
    val jobs = rec.jobs.filter(j => in(j.start))
    val tasks = rec.tasks.asScala.filter(t => in(t.launch)).toSeq
    // driver time: wall time during which no job was active
    val busy = union(rec.jobs.map(j =>
      (math.max(j.start, s.start), math.min(j.end, s.end))))
    Counters(
      wall = s.seconds,
      jobs = jobs.size,
      stages = rec.stages.asScala.count(t => in(t)),
      tasks = tasks.size,
      taskCpu = tasks.map(_.cpuNs).sum / 1e9,
      gc = tasks.map(_.gcMs).sum / 1e3,
      shuffleMb = tasks.map(_.shuffleBytes).sum / MB,
      spillMb = tasks.map(_.spillBytes).sum / MB,
      writtenMb = tasks.map(_.bytesWritten).sum / MB,
      records = tasks.map(_.recordsWritten).sum,
      driver = math.max(0.0, s.seconds - busy / 1e3),
      codegenFallbacks = app.times.asScala.count(t => in(t)))
  }

  /** Total length in ms of the union of intervals (empty ones dropped). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
