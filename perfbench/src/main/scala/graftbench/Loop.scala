package graftbench

import graft.avro.AvroCodec
import graft.streaming.{AvroStream, ParquetGraphSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Counts operations (micro-batches and correctness checks). A failed
  * operation is counted and described, never dropped. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  /** Runs `body` as one operation; its failure is counted, not thrown.
    * The lock covers the counters only: operations run concurrently. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch {
      case NonFatal(e) =>
        synchronized {
          failed += 1
          failures += s"$what: $e"
        }
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"$what: $detail"
    }
    ok
  }
}

/** What one micro-batch did, on the benchmark clock (microseconds).
  * `decodeUs` is measured only in traced batches; in the others the
  * decode runs inside the tally and the merge. */
final case class BatchObs(
    id: Long,
    startUs: Long,
    endUs: Long,
    traced: Boolean,
    decodeUs: Long,
    tallyUs: Long,
    mergeUs: Long,
    counts: Map[String, Long],
    backlogRecs: Long,
    failed: Boolean) {
  def records: Long = counts.values.sum
  def ok: Long = counts.getOrElse("ok", 0L)
}

object Status {
  /** Error class of an `err` value (`ok` for a clean decode). */
  def classOf(status: String): String =
    if (status.startsWith("unknown_schema_id")) "unknown_schema_id"
    else if (status.startsWith("decode_error")) "decode_error"
    else status

  val Classes: Seq[String] = Seq("ok", "bad_magic", "truncated", "unknown_schema_id", "decode_error")
}

/** The consume loop, wired only from graft's public functions:
  * file-backed topic log (`readStream`) -> `AvroCodec.decodeMulti` over
  * the registry snapshot -> per batch `AvroStream.errorMonitor` and
  * `ParquetGraphSink.merge` of the clean rows in `foreachBatch`.
  *
  * @param traced      each batch materializes its decoded frame before
  *                    the tally and merge, so decode is timed on its own
  * @param published   records published so far, for the backlog count
  */
final class ConsumeLoop(
    spark: SparkSession,
    writerSchemas: Map[Int, String],
    readerJson: String,
    clock: Clock,
    tracer: Tracer,
    ledger: Ledger,
    traced: Boolean,
    published: () => Long) {

  val batches = ArrayBuffer.empty[BatchObs]
  private var consumed = 0L

  def start(topicDir: String, checkpoint: String, sink: ParquetGraphSink,
            maxFilesPerTrigger: Option[Int]): StreamingQuery = {
    consumed = 0L
    val reader = spark.readStream.schema(TopicLog.sparkSchema)
    val log = maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(topicDir)
    val decoded = AvroCodec.decodeMulti(log, "value", writerSchemas, readerJson,
      passthrough = Seq("ts_us"))
    val parent = tracer.currentId
    val each: (DataFrame, Long) => Unit = (b, id) => tracer.within(parent)(body(sink, b, id))
    decoded.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(each)
      .start()
  }

  private def body(sink: ParquetGraphSink, batch: DataFrame, id: Long): Unit = {
    val backlog = published() - consumed
    val start = clock.nowUs
    var decodeEnd = start
    var tallyEnd = start
    val tally = ledger.attempt(s"batch $id") {
      tracer.span("batch") {
        val frame =
          if (!traced) batch
          else tracer.span("decode") {
            batch.persist(StorageLevel.MEMORY_ONLY)
            batch.count()
            batch
          }
        decodeEnd = clock.nowUs
        val t = tracer.span("tally") { AvroStream.errorMonitor(frame).collect() }
        tallyEnd = clock.nowUs
        tracer.span("merge") { sink.merge(frame.filter(col("err").isNull), id) }
        if (traced) batch.unpersist()
        t
      }
    }
    val end = clock.nowUs
    val counts = tally.toSeq.flatten
      .groupMapReduce(r => Status.classOf(r.getString(0)))(_.getLong(1))(_ + _)
    val obs = BatchObs(id, start, end, traced,
      decodeUs = if (traced) decodeEnd - start else 0L,
      tallyUs = tallyEnd - decodeEnd, mergeUs = end - tallyEnd,
      counts, backlog, failed = tally.isEmpty)
    consumed += obs.records
    synchronized { batches += obs }
  }
}
