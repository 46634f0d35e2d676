package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One call the harness made into a layer. Times are System.nanoTime. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      start: Long, end: Long)

/**
 * Span recorder. `span` runs a block as a named span of a request; while
 * the block runs, the calling thread carries the span id in the Spark local
 * property [[Tracer.Key]], so every job it starts (and every task, stage and
 * SQL execution of those jobs) can be credited to the span by the listeners
 * [[Tracer.attach]] installs. The disabled tracer only runs the block.
 */
final class Tracer(val enabled: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val current = new ThreadLocal[Span]
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val counters =
    new ConcurrentHashMap[(Long, String), java.util.concurrent.atomic.DoubleAdder]
  private val jobWindows = new ConcurrentHashMap[Long, mutable.ArrayBuffer[(Long, Long)]]
  @volatile private var sc: SparkContext = _

  def span[A](name: String, request: Long = -1)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val id = nextId.incrementAndGet()
      val req = if (request >= 0 || parent == null) request else parent.request
      val open = Span(id, name, if (parent == null) 0 else parent.id, req,
        System.nanoTime(), 0L)
      current.set(open)
      setProperty(id.toString)
      try body
      finally {
        done.add(open.copy(end = System.nanoTime()))
        current.set(parent)
        setProperty(if (parent == null) null else parent.id.toString)
      }
    }

  private def setProperty(v: String): Unit =
    if (sc != null) sc.setLocalProperty(Tracer.Key, v)

  /** Adds `v` to counter `name` of span `spanId`. */
  def add(spanId: Long, name: String, v: Double): Unit =
    counters.computeIfAbsent((spanId, name),
      _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  private[perfbench] def jobWindow(spanId: Long, start: Long, end: Long): Unit = {
    val buf = jobWindows.computeIfAbsent(spanId, _ => mutable.ArrayBuffer.empty)
    buf.synchronized(buf += ((start, end)))
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  def counter(spanId: Long, name: String): Double =
    Option(counters.get((spanId, name))).fold(0.0)(_.sum)

  /** Ms during which at least one job of the given spans ran. */
  def jobBusyMs(spanIds: Seq[Long]): Double =
    Tracer.unionLength(spanIds.flatMap(id => Option(jobWindows.get(id))
      .fold(Seq.empty[(Long, Long)])(b => b.synchronized(b.toSeq))))

  /** Installs the listeners that credit Spark work to spans. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    val l = new SpanListener(this)
    sc.addSparkListener(l)
    CodegenAppender.install(this, sc)
  }
}

object Tracer {
  /** Local property naming the span a thread's Spark work belongs to. */
  val Key = "perfbench.span"

  /** Total length of the union of [start, end] intervals, in their unit. */
  def unionLength(windows: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    windows.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Self time: the span's length minus the part its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long =
    (s.end - s.start) - (unionLength(children.map(c => (c.start, c.end))).toLong)
}

/** Credits jobs, stages, tasks and task metrics to the span named in each
  * job's local properties, and planning time through the SQL execution id
  * those jobs carry. */
private final class SpanListener(t: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)] // span, start ms
  private val execSpan = new ConcurrentHashMap[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach { v =>
        val span = v.toLong
        jobSpan.put(e.jobId, (span, e.time))
        e.stageIds.foreach(stageSpan.put(_, span))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.put(x.toLong, span))
        t.add(span, "jobs", 1)
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, start) =>
      t.jobWindow(span, start, e.time)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(t.add(_, "stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      t.add(span, "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        t.add(span, "exec_run_ms", m.executorRunTime)
        t.add(span, "exec_cpu_ms", m.executorCpuTime / 1e6)
        t.add(span, "gc_ms", m.jvmGCTime)
        t.add(span, "shuffle_write_kb", m.shuffleWriteMetrics.bytesWritten / 1024.0)
        t.add(span, "shuffle_read_kb", m.shuffleReadMetrics.totalBytesRead / 1024.0)
        t.add(span, "spill_kb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1024.0)
      }
    }

  /** Planning time of a SQL execution, from the QueryExecution that the
    * execution-end event carries to QueryExecutionListeners (the field is
    * Spark-internal, hence the reflective read). The event follows the
    * execution's job starts on this queue, so its id is already mapped. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(execSpan.get(end.executionId)).foreach { span =>
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null) t.add(span, "plan_ms",
          qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      }
    case _ =>
  }
}

/** Credits whole-stage and expression code generation to spans: Spark logs
  * each compile ("Code generated in N ms") on the compiling thread, which is
  * either a task thread (span from the task's local properties) or a thread
  * carrying the caller's local properties. */
private final class CodegenAppender(t: Tracer, sc: SparkContext)
  extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  private val Compiled = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit =
    e.getMessage.getFormattedMessage match {
      case Compiled(ms) =>
        val span = Option(TaskContext.get()).map(_.getLocalProperty(Tracer.Key))
          .orElse(Option(sc.getLocalProperty(Tracer.Key)))
        span.filter(_ != null).foreach { s =>
          t.add(s.toLong, "codegen_ms", ms.toDouble)
          t.add(s.toLong, "codegen_compiles", 1)
        }
      case _ =>
    }
}

private object CodegenAppender {
  val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(t: Tracer, sc: SparkContext): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new CodegenAppender(t, sc)
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(LoggerName, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(LoggerName, lc)
    ctx.updateLoggers()
  }
}
