package graft.ingest

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType

/** W4 raw-bytes encoder
  * (format/bytearray/ByteArrayRecordWriterProvider.java:38-92): each record's
  * value bytes followed by the configured line separator
  * (`format.bytearray.separator`, default `\n`), streamed inside the write
  * pass of [[IngestWriter]] like the Avro encoder. True binary payloads
  * round-trip byte-exact; string payloads write their UTF-8 bytes (what the
  * reference's ByteArrayConverter passes through). */
object RawGroupWriter {

  def factory(compression: Option[String],
              separator: String): OutputWriterFactory =
    new IngestWriter.StreamWriterFactory {
      def newInstance(file: String, payload: StructType,
                      context: TaskAttemptContext): OutputWriter = {
        val sepBytes = separator.getBytes("UTF-8")
        val toRow = CatalystTypeConverters.createToScalaConverter(payload)
        val raw = create(file, context)
        val out =
          if (compression.contains("gzip")) new java.util.zip.GZIPOutputStream(raw)
          else raw
        new OutputWriter {
          def write(row: InternalRow): Unit = {
            out.write(toRow(row).asInstanceOf[Row].get(0) match {
              case b: Array[Byte] => b
              case s: String => s.getBytes("UTF-8")
              case null => Array.empty[Byte]
              case other => other.toString.getBytes("UTF-8")
            })
            out.write(sepBytes)
          }
          def close(): Unit = out.close()
          def path(): String = file
        }
      }
    }
}
