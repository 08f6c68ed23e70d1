package graftbench

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** The file-backed topic log standing in for a broker: one parquet file
  * per produced chunk of one partition, with Kafka's record fields. It is
  * written with parquet-java directly, so producing costs no Spark jobs.
  * A file becomes visible to the stream only by an atomic rename. */
object TopicLog {
  private val parquetSchema = MessageTypeParser.parseMessageType(
    """message topic_log {
      |  required int32 partition;
      |  required int64 msg_offset;
      |  required int64 ts_us;
      |  required binary value;
      |}""".stripMargin)

  val sparkSchema: StructType = StructType(Seq(
    StructField("partition", IntegerType),
    StructField("msg_offset", LongType),
    StructField("ts_us", LongType),
    StructField("value", BinaryType)))

  /** Writes one chunk to `path`; returns its size in bytes. */
  def write(path: Path, partition: Int, firstOffset: Long,
            tsUs: Array[Long], frames: Array[Array[Byte]]): Long = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(parquetSchema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(parquetSchema)
    try {
      var i = 0
      while (i < frames.length) {
        w.write(groups.newGroup()
          .append("partition", partition)
          .append("msg_offset", firstOffset + i)
          .append("ts_us", tsUs(i))
          .append("value", Binary.fromConstantByteArray(frames(i))))
        i += 1
      }
    } finally w.close()
    Files.size(path)
  }

  /** Makes a staged chunk visible in `topicDir`. The modification time
    * orders chunks for the file source's `maxFilesPerTrigger`. */
  def publish(staged: Path, topicDir: Path, mtimeMs: Long): Unit = {
    Files.setLastModifiedTime(staged, FileTime.fromMillis(mtimeMs))
    Files.move(staged, topicDir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }
}
