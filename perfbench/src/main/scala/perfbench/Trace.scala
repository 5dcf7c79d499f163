package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call: name, wall-clock interval, parent span, and the
  * Spark work observed while it was the innermost open span.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val startMs: Long, val startNs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
  val counts: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Wraps layer calls in spans in a traced run. It registers a
  * SparkListener, a QueryExecutionListener and a log appender, and
  * attributes their events to the innermost open span.
  * A traced run switches `enabled` off for its untraced rounds, so
  * traced and untraced rounds alternate in one JVM (the listeners stay
  * registered; the workloads skip their tracing-only actions).
  *
  * Attribution: the calling thread drains the listener bus at every
  * span boundary, so every event the listener handles between two
  * boundaries comes from work started inside the span that was innermost
  * then.
  */
final class Tracer(spark: SparkSession, val traced: Boolean,
    workload: String) {
  private var on = traced
  def enabled: Boolean = on
  /** Switches tracing for the next round. The bus is drained first, so
    * no event of an untraced round lands in a traced one.
    */
  def enabled_=(v: Boolean): Unit = {
    if (traced) drain()
    on = traced && v
  }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  @volatile private var current: Int = -1
  private val jobStarts = mutable.Map.empty[Int, (Long, Int)]

  private def add(span: Int, key: String, v: Double): Unit =
    if (span >= 0) synchronized { spans(span).counts(key) += v }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = (e.time, current)
      add(current, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, sp) =>
        if (sp >= 0) spans(sp).jobIntervals += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(current, "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(current, "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add(current, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(current, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(current, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(current, "bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private object Queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add(current, "sql_actions", 1)
      add(current, "planning_s",
        qe.tracker.phases.values.map(_.durationMs).sum / 1000.0)
      qe.executedPlan.foreach {
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => add(current, "files_written", m.value.toDouble))
        case _ => ()
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (traced) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
    Reregistrations.install(() => add(current, "reregistrations", 1))
  }

  private def drain(): Unit = org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)

  /** Runs `body` in a span; untraced rounds record none. */
  def span[T](name: String)(body: => T): T = if (!on) body else {
    drain()
    val s = synchronized {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      s
    }
    stack = s :: stack
    current = s.id
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      drain()
      stack = stack.tail
      current = stack.headOption.map(_.id).getOrElse(-1)
    }
  }

  /** The span and all its descendants. */
  def subtree(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    s +: kids.flatMap(subtree)
  }

  /** A span's counts including its descendants, with `job_s` (the union
    * of its jobs' intervals) and `outside_jobs_s` (wall not covered by
    * any job: analysis, planning and loops on the calling thread).
    */
  def inclusive(s: Span): Map[String, Double] = synchronized {
    val tree = subtree(s)
    val sums = tree.flatMap(_.counts.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val iv = tree.flatMap(_.jobIntervals).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    val jobS = covered / 1000.0
    sums ++ Map("job_s" -> jobS, "outside_jobs_s" -> math.max(0.0, s.seconds - jobS))
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** All spans as JSON, for the trace file. */
  def json: String = synchronized {
    spans.map { s =>
      val c = inclusive(s).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""workload":${Json.str(workload)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"seconds":${Json.num(s.seconds)},"counts":{$c}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Reports SimpleFunctionRegistry's "replaced a previously registered
  * function" warnings: every one is a registration the session already
  * had. The warning is logged on the thread that registers, so the
  * tracer attributes it to that thread's innermost span.
  */
object Reregistrations {
  @volatile private var onWarning: () => Unit = () => ()
  private var installed = false

  def install(seen: () => Unit): Unit = synchronized {
    onWarning = seen
    if (!installed) {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new AbstractAppender("perfbench-reregistrations", null, null,
          true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getLoggerName.endsWith("SimpleFunctionRegistry") &&
              e.getMessage.getFormattedMessage.contains("replaced a previously registered"))
            onWarning()
      }
      app.start()
      ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
      ctx.updateLoggers()
      installed = true
    }
  }
}

/** Largest heap occupancy right after a full collection, taken at fixed
  * points of the run (between timed calls).
  */
object Heap {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    peak = math.max(peak, m.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
