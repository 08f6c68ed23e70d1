package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task-metric and job listener shared by graft's entry points (Bench's
  * per-run and per-tier records, JobTrace's job list, DevProbe's probe
  * lines). Metric sums are monotonic and fed by the asynchronous listener
  * bus; [[snapshot]] and [[drainJobs]] drain the bus first, so a task's
  * bytes and a job's end land in the window of the action that ran them,
  * not the next one's.
  */
final class EngineListener private (sc: SparkContext) extends SparkListener {
  import EngineListener._

  private val sums = new AtomicLongArray(Fields.size)
  private val started = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val finished = new ConcurrentLinkedQueue[Job]()

  /** Current sums, one per [[EngineListener.Fields]] entry. */
  def snapshot(): Array[Long] = {
    org.apache.spark.GraftCoreBridge.drainListenerBus(sc)
    Array.tabulate(Fields.size)(sums.get)
  }

  /** Jobs that ended since the previous call, in end order. */
  def drainJobs(): Seq[Job] = {
    org.apache.spark.GraftCoreBridge.drainListenerBus(sc)
    Iterator.continually(finished.poll()).takeWhile(_ != null).toSeq
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    started.put(js.jobId, js); ()
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val js = started.remove(je.jobId)
    if (js != null) {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      finished.add(Job(je.jobId, je.time - js.time, js.stageInfos.size,
        js.stageInfos.map(_.numTasks).sum, js.stageInfos.lastOption.map(_.name).getOrElse(""), desc))
      ()
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val tm = te.taskMetrics
    if (tm != null) {
      sums.addAndGet(ShuffleRead, tm.shuffleReadMetrics.totalBytesRead)
      sums.addAndGet(ShuffleWrite, tm.shuffleWriteMetrics.bytesWritten)
      sums.addAndGet(SpillMem, tm.memoryBytesSpilled)
      sums.addAndGet(SpillDisk, tm.diskBytesSpilled)
      sums.addAndGet(GcMs, tm.jvmGCTime)
      ()
    }
  }

  // blocks currently memory-resident: a disk-without-memory update is a
  // DEMOTION only if the block was in memory before — an initial
  // DISK_ONLY store (forwardLevels' fan-out frames at large
  // seedRows*edgeRows) posts the identical level and must not count as
  // eviction, or intentional disk staging reads as memory pressure
  private val inMemory = ConcurrentHashMap.newKeySet[String]()

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = {
    val info = bu.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val lvl = info.storageLevel
      if (lvl.isValid && lvl.useMemory) { inMemory.add(key); () }
      else {
        val wasInMemory = inMemory.remove(key)
        // full drop = recompute next use; memory->disk demotion = the
        // block survives but every consumer now pays disk bandwidth
        if (!lvl.isValid) sums.incrementAndGet(Removed)
        else if (wasInMemory && lvl.useDisk && info.diskSize > 0L) sums.incrementAndGet(Evicted)
        ()
      }
    }
  }

  // voluntary-release marker for the removed-blocks field; posted for
  // explicit RDD.unpersist() AND ContextCleaner GC-driven cleanup
  override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit = {
    sums.incrementAndGet(Unpersist); ()
  }
}

object EngineListener {

  /** One ended Spark job: wall from the scheduler's start/end stamps,
    * stage and task counts, the call site of its last stage, and its
    * `spark.job.description`. */
  final case class Job(id: Int, ms: Long, stages: Int, tasks: Int, site: String, description: String)

  /** Fields of every metric record, in record order; this list sets the
    * record width. `_mb` fields sum bytes and render in MB.
    *
    * `removed_blocks` counts cached RDD blocks dropped entirely —
    * including voluntary unpersist()/localCheckpoint scratch release, so
    * a nonzero value alone is not a memory-pressure signal. Read it one
    * direction only: unpersist_rdds = 0 && removed_blocks > 0 proves an
    * involuntary drop. The converse does not hold: unpersist counts RDDs
    * (not blocks) and also fires for ContextCleaner's cleanups, so a
    * window with both nonzero is inconclusive, not clean. */
  val Fields: IndexedSeq[String] = IndexedSeq("shuffle_read_mb", "shuffle_write_mb",
    "spill_mem_mb", "spill_disk_mb", "gc_ms", "evicted_blocks", "removed_blocks",
    "unpersist_rdds")
  private val ShuffleRead = Fields.indexOf("shuffle_read_mb")
  private val ShuffleWrite = Fields.indexOf("shuffle_write_mb")
  private val SpillMem = Fields.indexOf("spill_mem_mb")
  private val SpillDisk = Fields.indexOf("spill_disk_mb")
  private val GcMs = Fields.indexOf("gc_ms")
  private val Evicted = Fields.indexOf("evicted_blocks")
  private val Removed = Fields.indexOf("removed_blocks")
  private val Unpersist = Fields.indexOf("unpersist_rdds")

  /** A new listener registered on `spark`'s context. */
  def attach(spark: SparkSession): EngineListener = {
    val l = new EngineListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** An all-zero record, for a window no listener observed. */
  def zero: Array[Long] = Array.fill(Fields.size)(0L)

  def delta(after: Array[Long], before: Array[Long]): Array[Long] =
    after.zip(before).map { case (a, b) => a - b }

  /** Record values as text, `_mb` fields in MB with one decimal. */
  def formatted(m: Array[Long]): Seq[String] = Fields.zip(m).map {
    case (f, v) if f.endsWith("_mb") =>
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v / 1048576.0))
    case (_, v) => v.toString
  }
}
