package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.jdk.CollectionConverters._

/** Trace capture for a `--trace 1` run, from the benchmark's own code only.
  *
  * Tracing is switched on and off in alternating slices of the measured
  * phase, so one run yields both traced and untraced operations and the
  * tracing overhead is their latency difference. While a slice is on:
  *  - `span` records every public graft call the workload makes;
  *  - a `SparkListener` records each job and each stage submitted, with
  *    its tasks' counters folded in and what attributes it to graft's
  *    modules: the stage's graft call-site frames (a stage whose own call
  *    site has none takes those of the SQL execution that submitted it),
  *    the span the calling thread was in, and the `graft.functions`
  *    kernels (`graft_*` expressions) its SQL execution's plan runs;
  *  - JVM GC time and process CPU time are sampled at slice boundaries.
  * Everything stays in memory and is exported once, at the end of the run.
  * In an untraced run no listener is registered and `span` is a plain call. */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  @volatile private var on = false
  def active: Boolean = on

  private val spans = new ConcurrentLinkedQueue[Seq[Any]]()
  private val jobs = new ConcurrentHashMap[Int, Array[Double]]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val streaming = new ConcurrentLinkedQueue[Seq[Any]]()
  private val windows = new ConcurrentLinkedQueue[Seq[Double]]()
  private val scalars = new ConcurrentHashMap[String, Double]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  @volatile private var window: Array[Double] = _

  private final class StageRec(val submitMs: Double, val tasksPlanned: Int,
                               val frames: String, val span: String,
                               val kernels: String) {
    var completeMs = Double.NaN
    var failed = false
    var tasks, failedTasks, emptyTasks = 0L
    var taskMs, cpuMs, gcMs, waitMs = 0.0
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, outputBytes = 0L
  }

  // SQL execution id -> graft frames of the action that started it and
  // the graft kernels its plan runs, and stage id -> its job's execution
  // id: AQE submits query stages from engine threads whose own call site
  // has no graft frame
  private val execFrames = new ConcurrentHashMap[Long, String]()
  private val execKernels = new ConcurrentHashMap[Long, String]()
  private val stageExec = new ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if on =>
        execFrames.put(x.executionId, Trace.graftFrames(x.details))
        execKernels.put(x.executionId, Trace.kernels(x.physicalPlanDescription))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      jobs.put(e.jobId, Array(e.time.toDouble, Double.NaN))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => e.stageIds.foreach(stageExec.put(_, id.toLong)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_(1) = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (on) {
        val i = e.stageInfo
        val exec = Option(stageExec.get(i.stageId))
        def ofExec(m: ConcurrentHashMap[Long, String]) =
          exec.flatMap(x => Option(m.get(x))).getOrElse("")
        val own = Trace.graftFrames(i.details)
        val frames = if (own.nonEmpty) own else ofExec(execFrames)
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
          .getOrElse("")
        stages.put((i.stageId, i.attemptNumber()), new StageRec(
          i.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs), i.numTasks, frames, span,
          ofExec(execKernels)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stages.get((i.stageId, i.attemptNumber()))).foreach { s =>
        s.completeMs = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
        s.failed = i.failureReason.isDefined
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
        val ti = e.taskInfo
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          if (ti.failed || ti.killed) s.failedTasks += 1
          s.taskMs += (ti.finishTime - ti.launchTime).toDouble
          s.waitMs += math.max(0.0, ti.launchTime - s.submitMs)
          if (m != null) {
            val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
            if (records == 0) s.emptyTasks += 1
            s.cpuMs += m.executorCpuTime / 1e6
            s.gcMs += m.jvmGCTime.toDouble
            s.inputBytes += m.inputMetrics.bytesRead
            s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  private def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  /** Switch tracing for the next slice (no-op in an untraced run). */
  def set(traced: Boolean): Unit = synchronized {
    if (enabled && traced != on) {
      if (traced) window = Array(Clock.nowMs, gcMs, cpuMs)
      else windows.add(Seq(window(0), Clock.nowMs, gcMs - window(1), cpuMs - window(2)))
      on = traced
    }
  }

  /** Time `body` as span `name` of operation `op` when the operation is
    * traced (by default, when it starts in a traced slice). The span's name
    * rides on the Spark jobs `body` submits from this thread, as the stage
    * attribution of last resort. */
  def span[T](name: String, op: Long, traced: Boolean = on)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Trace.SpanProperty)
      sc.setLocalProperty(Trace.SpanProperty, name)
      val t0 = Clock.nowMs
      try body
      finally {
        spans.add(Seq(name, op, t0, Clock.nowMs))
        sc.setLocalProperty(Trace.SpanProperty, outer)
      }
    }

  // The records below belong to an operation the caller knows to be traced
  // (it started in a traced slice); the slice may have ended since.

  /** A span measured by the caller (e.g. a client-side request time). */
  def record(name: String, op: Long, t0: Double, t1: Double): Unit =
    if (enabled) spans.add(Seq(name, op, t0, t1))

  /** One streaming cycle's engine-reported durations, in ms. */
  def progress(row: Seq[Any]): Unit = if (enabled) streaming.add(row)

  /** A per-operation observation the workload computes itself. */
  def sample(name: String, value: Double): Unit =
    if (enabled) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(value)

  /** An end-of-run observation the workload computes itself. */
  def scalar(name: String, value: Double): Unit = if (enabled) scalars.put(name, value)

  def stop(): Unit = {
    set(false)
    // listener events are delivered asynchronously; give the bus a moment
    if (enabled) Thread.sleep(500)
  }

  def export(res: Result): Unit = if (enabled) {
    res.put("spans", spans.asScala.toSeq)
    res.put("jobs", jobs.asScala.toSeq.sortBy(_._1).map { case (id, t) =>
      Seq(id, t(0), Option(t(1)).filterNot(_.isNaN))
    })
    res.put("stages", stages.asScala.toSeq.sortBy(_._1).map { case ((id, _), s) =>
      Seq(id, s.submitMs, Option(s.completeMs).filterNot(_.isNaN), if (s.failed) 1 else 0,
        s.tasksPlanned, s.tasks, s.failedTasks, s.emptyTasks, s.taskMs, s.cpuMs, s.gcMs,
        s.waitMs, s.inputBytes, s.shuffleReadBytes, s.shuffleWriteBytes,
        s.outputBytes, s.frames, s.span, s.kernels)
    })
    res.put("streaming", streaming.asScala.toSeq)
    res.put("windows", windows.asScala.toSeq)
    res.put("samples", samples.asScala.toMap.map { case (k, v) => k -> v.asScala.toSeq })
    res.put("scalars", scalars.asScala.toMap)
  }
}

object Trace {
  /** Spark local property carrying the name of the span a thread is in. */
  val SpanProperty = "perfbench.span"

  // also inside Spark's phase-prefixed names (partial_graft_sketch_merge)
  private val Kernel = "(?<![A-Za-z0-9])graft_[a-z_]+(?=\\()".r

  /** The `graft.functions` kernels a physical plan runs: every expression
    * that module defines is named `graft_*`, and no other module's is. */
  def kernels(plan: String): String =
    Kernel.findAllIn(Option(plan).getOrElse("")).toSeq.distinct.sorted.mkString(",")

  /** The graft frames of a Spark long-form call site, innermost first;
    * module attribution happens in `perfbench/metrics.py`. */
  def graftFrames(details: String): String =
    Option(details).getOrElse("").split("\n").map(_.trim)
      .filter(_.startsWith("graft.")).mkString("\n")
}
