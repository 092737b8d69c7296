package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Spans of one operation (a query or an ETL batch)
  * share `op`; a root span has `parent == -1` and its children are the
  * layer calls made inside it. Windows are wall-clock milliseconds so
  * Spark's own event timestamps can be placed in them. */
final class Span(val id: Int, val op: Int, val parent: Int, val depth: Int,
                 val name: String, val t0Ms: Long, val t0Ns: Long) {
  var t1Ms: Long = 0L
  var t1Ns: Long = 0L
  // attributed work
  var jobs = 0
  var tasks = 0
  var taskFailures = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputScans = 0
  var filesWritten = 0L
  var bytesWritten = 0L
  def durS: Double = (t1Ns - t0Ns) / 1e9
}

/** Work recorded from Spark's listener bus. Jobs and tasks carry Spark's
  * own timestamps and are attributed to the span whose window contains
  * them; SQL executions carry none, so they are attributed to the span
  * that was innermost when the bus was drained at a span boundary. */
final class Recorder(inputPath: Option[String]) extends SparkListener
    with QueryExecutionListener {
  import Recorder.{QeEv, TaskEv}

  val jobStarts = ArrayBuffer.empty[Long]
  val taskEvs = ArrayBuffer.empty[TaskEv]
  private val pendingQe = ArrayBuffer.empty[QeEv]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStarts += e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    taskEvs += (if (m == null) TaskEv(e.taskInfo.launchTime, 0, 0, 0, 0, 0,
      failed)
    else TaskEv(e.taskInfo.launchTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, failed))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val scans = inputPath.map(p => Recorder.scanPaths(plan)
      .count(_.endsWith(p))).getOrElse(0)
    val writes = Recorder.writeMetrics(plan)
    synchronized {
      pendingQe += QeEv(scans, writes.map(_._1).sum, writes.map(_._2).sum)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def takeQe(): Seq[QeEv] = synchronized {
    val out = pendingQe.toList; pendingQe.clear(); out
  }
}

object Recorder {
  final case class TaskEv(launchMs: Long, runMs: Long, gcMs: Long,
                          shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, failed: Boolean)
  final case class QeEv(inputScans: Int, files: Long, bytes: Long)

  /** Root paths of every file scan the executed plan ran, walking into
    * AQE stages and subqueries; a reused exchange re-reads nothing. */
  def scanPaths(plan: SparkPlan): Seq[String] = plan match {
    case a: AdaptiveSparkPlanExec => scanPaths(a.executedPlan)
    case q: QueryStageExec => scanPaths(q.plan)
    case _: ReusedExchangeExec => Nil
    case c: CommandResultExec => scanPaths(c.commandPhysicalPlan)
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toUri.getPath).toSeq
    case other =>
      other.children.flatMap(scanPaths) ++ other.subqueries.flatMap(scanPaths)
  }

  /** (files, bytes) written by each file-write command in the plan. */
  def writeMetrics(plan: SparkPlan): Seq[(Long, Long)] = plan match {
    case a: AdaptiveSparkPlanExec => writeMetrics(a.executedPlan)
    case q: QueryStageExec => writeMetrics(q.plan)
    case c: CommandResultExec => writeMetrics(c.commandPhysicalPlan)
    case d: DataWritingCommandExec =>
      Seq((d.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L),
        d.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)))
    case other => other.children.flatMap(writeMetrics)
  }
}

/** Counts DAGScheduler "attempted to access non-existent accumulator"
  * errors: a task whose accumulators were reclaimed before it reported. */
final class OrphanAccCounter extends org.apache.logging.log4j.core.appender
    .AbstractAppender("perfbench-orphan-acc", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    val thrown = Option(e.getThrown).map(t => String.valueOf(t.getMessage))
      .getOrElse("")
    if (msg.contains("non-existent accumulator") ||
        thrown.contains("non-existent accumulator")) count.incrementAndGet()
  }
}

object OrphanAccCounter {
  def attach(): OrphanAccCounter = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val app = new OrphanAccCounter
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    app
  }
}

/** Span recorder for a traced run. Spans stay in memory until the run
  * ends; `attribute()` then places every recorded job, task and SQL
  * execution into a span. */
final class Tracer(spark: SparkSession, val rec: Recorder) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** `SparkContext.listenerBus` is private[spark]; reach it reflectively
    * so every event of a finished call is delivered before its span
    * closes. */
  private val waitUntilEmpty: () => Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods.find(m =>
      m.getName == "waitUntilEmpty" && m.getParameterCount == 0).get
    () => m.invoke(bus)
  }

  /** Deliver every event posted so far to the listeners. */
  def drain(): Unit = waitUntilEmpty()

  /** SQL executions reported since the last flush belong to the innermost
    * open span; the harness runs none between spans. */
  private def flushQe(): Unit = {
    waitUntilEmpty()
    val qes = rec.takeQe()
    open.headOption.foreach { s =>
      qes.foreach { q =>
        s.inputScans += q.inputScans
        s.filesWritten += q.files
        s.bytesWritten += q.bytes
      }
    }
  }

  def span[A](op: Int, name: String)(body: => A): A = {
    flushQe()
    val s = new Span(spans.size, op, open.headOption.map(_.id).getOrElse(-1),
      open.size, name, System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    try body
    finally {
      flushQe()
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Innermost span whose window holds `t`; on a shared boundary
    * millisecond the later-started span wins. */
  private def spanAt(t: Long): Option[Span] = {
    val hits = spans.filter(s => s.t0Ms <= t && t <= s.t1Ms)
    if (hits.isEmpty) None else Some(hits.maxBy(s => (s.depth, s.t0Ms, s.id)))
  }

  /** Returns the number of jobs that started outside every span. */
  def attribute(): Int = {
    waitUntilEmpty()
    var lostJobs = 0
    rec.synchronized {
      rec.jobStarts.foreach { t =>
        spanAt(t) match {
          case Some(s) => s.jobs += 1
          case None => lostJobs += 1
        }
      }
      rec.taskEvs.foreach { e =>
        spanAt(e.launchMs) match {
          case Some(s) =>
            s.tasks += 1
            if (e.failed) s.taskFailures += 1
            s.taskMs += e.runMs
            s.gcMs += e.gcMs
            s.shuffleRead += e.shuffleRead
            s.shuffleWrite += e.shuffleWrite
            s.spill += e.spill
          case None =>
        }
      }
    }
    lostJobs
  }

  def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id, "op" -> s.op, "parent" -> s.parent, "name" -> s.name,
    "dur_s" -> s.durS, "jobs" -> s.jobs, "tasks" -> s.tasks,
    "task_failures" -> s.taskFailures, "task_s" -> s.taskMs / 1e3,
    "gc_s" -> s.gcMs / 1e3, "shuffle_read_bytes" -> s.shuffleRead,
    "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
    "input_scans" -> s.inputScans, "files_written" -> s.filesWritten,
    "bytes_written" -> s.bytesWritten))
}
