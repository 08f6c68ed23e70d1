package graftbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Engine-side observations for the traced run, taken from Spark's own
  * listener interfaces. Listener events arrive asynchronously; read the
  * totals only after the SparkContext has stopped (which drains the bus). */
final class EngineProbe extends SparkListener {
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, Long]
  val jobSpansMs = ArrayBuffer.empty[(Long, Long)]
  var tasks = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpansMs += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskCpuNs += m.executorCpuTime
      taskGcMs += m.jvmGCTime
      shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }
}

/** Analysis / optimization / planning time of every batch action,
  * from `QueryExecution.tracker`. */
final class PhaseProbe extends QueryExecutionListener {
  val phasesMs = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  /** (phase, start, end), epoch ms. */
  val spans = ArrayBuffer.empty[(String, Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phasesMs(phase) += s.durationMs
      spans += ((phase, s.startTimeMs, s.endTimeMs))
    }
  }
}

/** Per-trigger progress of the streaming query. */
final class ProgressProbe extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The engine probes of one run, registered on `spark` only when the run
  * is traced, and the `engine.*` metrics taken from them. */
final class Probes(spark: SparkSession, enabled: Boolean) {
  val engine = new EngineProbe
  val phases = new PhaseProbe
  val progress = new ProgressProbe
  private val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var codegenCompiles = 0L

  if (enabled) {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(phases)
    spark.streams.addListener(progress)
  }

  /** Stops the session, which drains the listener bus, and returns the
    * streaming progress seen. */
  def stop(): Seq[StreamingQueryProgress] = {
    codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0
    spark.stop()
    progress.progress.map(_.progress).toSeq
  }

  /** The `engine.*` metrics. The driver gap is, per window (a trigger or
    * a query, epoch ms), its length minus the union of job spans in it. */
  def put(m: Metrics, windows: Seq[(Long, Long)]): Unit = {
    val jobSpans = engine.jobSpansMs.toSeq
    val gapsMs = windows.map(w => (w._2 - w._1) - Stats.coveredWithin(w, jobSpans).toDouble)
    m.put("engine.analysis_ms", phases.phasesMs("analysis").toDouble, "ms")
    m.put("engine.optimization_ms", phases.phasesMs("optimization").toDouble, "ms")
    m.put("engine.planning_ms", phases.phasesMs("planning").toDouble, "ms")
    m.put("engine.codegen_compiles", codegenCompiles.toDouble, "count")
    m.put("engine.driver_gap_s", gapsMs.sum / 1e3, "s")
    m.put("engine.driver_gap_p50_ms", Stats.median(gapsMs), "ms")
    m.put("engine.jobs", jobSpans.size.toDouble, "count")
    m.put("engine.tasks", engine.tasks.toDouble, "count")
    m.put("engine.job_busy_s", Stats.unionLength(jobSpans) / 1e3, "s")
    m.put("engine.task_cpu_s", engine.taskCpuNs / 1e9, "s")
    m.put("engine.task_gc_s", engine.taskGcMs / 1e3, "s")
    m.put("engine.shuffle_read_mb", engine.shuffleReadBytes / 1e6, "MB")
    m.put("engine.shuffle_write_mb", engine.shuffleWriteBytes / 1e6, "MB")
    m.put("engine.spill_mb", engine.spillBytes / 1e6, "MB")
  }

  /** Each engine job and planning phase becomes a span under the
    * innermost span it ran in. */
  def record(tracer: Tracer): Unit = {
    val jobs = engine.jobSpansMs.toSeq.map(j => ("spark.job", j._1, j._2))
    val ph = phases.spans.toSeq.map { case (n, s, e) => (s"plan.$n", s, e) }
    (ph ++ jobs).foreach { case (n, s, e) =>
      tracer.record(n, s * 1000L, e * 1000L, tracer.innermost(s * 1000L, e * 1000L))
    }
  }
}
