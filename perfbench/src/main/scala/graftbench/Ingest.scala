package graftbench

import graft.streaming.ParquetGraphSink
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** The graph the sink holds at the end of a run, and what reading it cost. */
final case class GraphResult(compactS: Double, objectsS: Double, relationshipsS: Double,
                             nObjects: Long, nEdges: Long, sinkFiles: Long, sinkBytes: Long,
                             batchBytes: Long) {
  def buildS: Double = compactS + objectsS + relationshipsS
}

/** One consume loop over one topic log and one sink, running from set-up
  * to the end of the run. Chunks of records are written by the generator,
  * framed by the producer side, and published to the log; the truth of
  * everything published is kept for the final checks. */
final class IngestRun(env: Env, dir: Path, gen: Gen, traced: Boolean,
                      clock: Clock, tracer: Tracer, ledger: Ledger) {
  import Bench.Partitions

  private val topic = Files.createDirectories(dir.resolve("topic"))
  private val staging = Files.createDirectories(dir.resolve("staging"))
  private val sink = new ParquetGraphSink(dir.resolve("sink").toString)
  private val published = new AtomicLong(0L)
  private var query: StreamingQuery = _
  val truth = new Truth
  val loop = new ConsumeLoop(env.spark, env.writerSchemas, env.readerJson, clock, tracer, ledger,
    traced, () => published.get)

  /** Starts the stream on the (empty) topic log. */
  def start(maxFilesPerTrigger: Option[Int]): Unit =
    ledger.attempt("stream start") {
      query = loop.start(topic.toString, dir.resolve("checkpoint").toString, sink, maxFilesPerTrigger)
    }

  /** Writes chunk `k` of `stream`, `recs` records, to partition
    * `k % Partitions` with the given `ts_us` stamps, unpublished. */
  def write(stream: Int, k: Int, recs: Int, framer: Framer, ts: Int => Long): (Path, Array[Rec]) = {
    val p = k % Partitions
    val rs = gen.records(stream, k, recs)
    val staged = staging.resolve(f"s$stream%03d-c$k%05d-p$p.parquet")
    TopicLog.write(staged, p, (k / Partitions).toLong * recs, Array.tabulate(recs)(ts), rs.map(framer.frame))
    (staged, rs)
  }

  /** Makes a written chunk visible to the stream: one atomic rename. */
  def publish(chunk: (Path, Array[Rec]), mtimeMs: Long): Unit = {
    synchronized(truth.addAll(chunk._2))
    TopicLog.publish(chunk._1, topic, mtimeMs)
    published.addAndGet(chunk._2.length.toLong)
  }

  /** Writes `chunks` chunks of `recs` records of `stream` in parallel, one
    * thread per partition, then publishes them in order; returns the
    * publish time. */
  def publishBacklog(stream: Int, chunks: Int, recs: Int): Long = {
    val pool = Executors.newFixedThreadPool(Partitions)
    val written = try {
      (0 until chunks).map { k =>
        pool.submit(new Callable[(Path, Array[Rec])] {
          def call(): (Path, Array[Rec]) = write(stream, k, recs, env.framer.copy, j => k.toLong * recs + j)
        })
      }.map(_.get())
    } finally pool.shutdown()
    val at = clock.nowUs
    // distinct, ordered mtimes: the file source reads the oldest first
    val mtime0 = System.currentTimeMillis()
    written.zipWithIndex.foreach { case (c, i) => publish(c, mtime0 + i) }
    at
  }

  /** Blocks until the stream has applied everything published so far. */
  def drain(): Unit = ledger.attempt("stream drain")(query.processAllAvailable())

  def stop(): Unit = ledger.attempt("stream stop")(if (query != null) query.stop())

  /** The (batch id, `ts_us`, records) groups the sink holds. */
  def appliedStamps(): Array[Row] =
    ledger.attempt("read applied stamps") {
      env.spark.read.parquet(dir.resolve("sink").resolve("triples").toString)
        .groupBy(col("batch_id"), col("ts_us")).count().collect()
    }.getOrElse(Array.empty)

  /** Compacts the sink and reads the graph back `reads` times, each read
    * materializing every column of objects and relationships (the median
    * read is reported); then collects it once, untimed, and checks the
    * whole run against the truth. */
  def finish(reads: Int): GraphResult = {
    val spark = env.spark
    val sinkDir = dir.resolve("sink")
    val batchBytes = Bench.dirBytes(sinkDir.resolve("triples"))
    var compactS, objectsS, relationshipsS = 0.0
    val built = ledger.attempt("graph build") {
      val c0 = System.nanoTime()
      tracer.span("compact")(sink.compact(spark))
      compactS = (System.nanoTime() - c0) / 1e9
      val times = (1 to reads).map { _ =>
        val r0 = System.nanoTime()
        val (objsDf, edgesDf) = sink.graph(spark)
        tracer.span("graph.objects")(QueryMix.fingerprint(objsDf))
        val r1 = System.nanoTime()
        tracer.span("graph.relationships")(QueryMix.fingerprint(edgesDf))
        ((r1 - r0) / 1e9, (System.nanoTime() - r1) / 1e9)
      }
      val mid = times.sortBy(t => t._1 + t._2).apply((times.size - 1) / 2)
      objectsS = mid._1
      relationshipsS = mid._2
      val (objsDf, edgesDf) = sink.graph(spark)
      (objsDf.select("object_id", "name").collect(), edgesDf.collect())
    }
    val (objs, edges) = built.getOrElse((Array.empty[Row], Array.empty[Row]))

    val bs = loop.batches.toSeq
    val tally = Status.Classes.map(c => c -> bs.map(_.counts.getOrElse(c, 0L)).sum).toMap
    ledger.check("error-class counts", tally == truth.counts, s"got $tally, truth ${truth.counts}")
    val names = truth.objectNames
    ledger.check("graph.n_objects", objs.length == names.length, s"got ${objs.length}, truth ${names.length}")
    val gotNames = objs.map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).map(_._2)
    ledger.check("object ids by name", gotNames.sameElements(names), "dictionary differs")
    // the multiset by size and order-independent fingerprint: maps of a
    // million edges would cost more than the run measures
    val got = edges.iterator.map(r => Truth.edgeHash(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).sum
    val want = truth.edgeFingerprint
    ledger.check("edge multiset", edges.length == truth.edgeCount && got == want,
      f"${edges.length}%d edges with fingerprint $got%016x, truth ${truth.edgeCount}%d with $want%016x")
    val (files, bytes) = Bench.dirStats(sinkDir)
    GraphResult(compactS, objectsS, relationshipsS, objs.length, edges.length, files, bytes, batchBytes)
  }
}

/** What the catch-up phase saw: the median wave's rate, all its batches
  * and the time spent generating. */
final case class CatchUp(recPerS: Double, batches: Seq[BatchObs], genS: Double)

/** What the live phase saw: freshness per measured record (grouped by the
  * batch that applied it), the applied rate, its batches and how late the
  * generator ran. */
final case class Live(fresh: Fresh, recPerS: Double, batches: Seq[BatchObs], genS: Double,
                      genLagMs: Array[Double])

object Ingest {
  import Bench.Partitions

  /** `waves` backlogs of `BacklogChunks` chunks per partition, each
    * published at once and drained. A wave's rate is its records over the
    * time from its publication to its last merge's return; the median over
    * waves is reported, so a slow stretch of the host moves little. */
  def catchUp(run: IngestRun, waves: Int, clock: Clock, tracer: Tracer): CatchUp = {
    val rates = ArrayBuffer.empty[Double]
    val batches = ArrayBuffer.empty[BatchObs]
    var genUs = 0L
    for (w <- 1 to waves) {
      val seen = run.loop.batches.size
      val g0 = clock.nowUs
      val at = run.publishBacklog(stream = w, chunks = Partitions * Bench.BacklogChunks, recs = Bench.BacklogRecs)
      genUs += at - g0
      tracer.span("drain")(run.drain())
      val bs = run.loop.batches.drop(seen).toSeq
      val end = if (bs.isEmpty) at else bs.map(_.endUs).max
      rates += bs.map(_.records).sum / math.max((end - at) / 1e6, 1e-6)
      batches ++= bs
      println(f"wave$w: ${bs.map(_.records).sum}%d records in ${bs.size}%d batches, ${rates.last}%.0f rec/s, " +
        "batch ms " + bs.map(b => (b.endUs - b.startUs) / 1000).mkString(" "))
    }
    CatchUp(Stats.median(rates), batches.toSeq, genUs / 1e6)
  }

  /** A generator thread publishes one `LiveRecs` chunk every
    * `LiveIntervalMs` on its own schedule, whatever the loop does, for a
    * lead-in plus `seconds`. Each record is stamped with its due time; its
    * freshness runs from there to the return of the merge that applied it,
    * read back from the sink. Records due in the lead-in are applied and
    * checked, not measured. */
  def live(run: IngestRun, env: Env, seconds: Int, clock: Clock, tracer: Tracer): Live = {
    val recs = Bench.LiveRecs
    val intervalUs = Bench.LiveIntervalMs * 1000L
    val nChunks = (Bench.LiveLeadInMs + seconds * 1000) / Bench.LiveIntervalMs
    val lagMs = ArrayBuffer.empty[Double]
    var genUs = 0L
    val seen = run.loop.batches.size
    val t0 = clock.nowUs + 100000L
    val measureFrom = t0 + Bench.LiveLeadInMs * 1000L
    val framer = env.framer.copy
    val stream = 1000
    val producer = new Thread(() => {
      for (k <- 0 until nChunks) {
        val dueEnd = t0 + (k + 1) * intervalUs
        val g0 = clock.nowUs
        val chunk = run.write(stream, k, recs, framer, j => t0 + k * intervalUs + (j + 1) * intervalUs / recs)
        genUs += clock.nowUs - g0
        val waitUs = dueEnd - clock.nowUs
        if (waitUs > 0) Thread.sleep(waitUs / 1000L, ((waitUs % 1000L) * 1000L).toInt)
        run.publish(chunk, System.currentTimeMillis())
        lagMs += (clock.nowUs - dueEnd) / 1e3
      }
    }, "perfbench-generator")
    tracer.span("drain") {
      producer.start()
      producer.join()
      run.drain()
    }
    val bs = run.loop.batches.drop(seen).toSeq
    val endById = bs.map(b => b.id -> b.endUs).toMap
    val measured = run.appliedStamps().filter(r => r.getLong(1) >= measureFrom)
    val batchOf = measured.map(_.getAs[Number]("batch_id").longValue)
    val fresh = Fresh(
      measured.indices.iterator.flatMap { i =>
        Iterator.fill(measured(i).getLong(2).toInt)((endById(batchOf(i)) - measured(i).getLong(1)) / 1e3)
      }.toArray,
      measured.indices.iterator.flatMap(i => Iterator.fill(measured(i).getLong(2).toInt)(batchOf(i))).toArray)
    val lastEnd = if (bs.isEmpty) clock.nowUs else bs.map(_.endUs).max
    println(f"live: ${nChunks * recs}%d records in ${bs.size}%d batches, batch ms " +
      bs.map(b => (b.endUs - b.startUs) / 1000).mkString(" "))
    Live(fresh, fresh.ms.length / math.max((lastEnd - measureFrom) / 1e6, 1e-6), bs, genUs / 1e6, lagMs.toArray)
  }
}
