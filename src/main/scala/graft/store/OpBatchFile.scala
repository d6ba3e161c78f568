package graft.store

import java.nio.file.{Files, Path}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A driver-sized batch of rows written as ONE parquet file by parquet's
  * own writer, on the calling thread, followed by an empty `_SUCCESS`: the
  * directory a one-task `df.write.parquet` leaves, without the Spark job,
  * Hadoop's local file system or its commit protocol. Rows are encoded by
  * Spark's `ParquetWriteSupport`, so `spark.read.parquet` reads the batch
  * back with the schema it was written with. It writes the WAL's op
  * batches, RemoteWrite's shipped transactions, and RemoteRead's answer
  * batches (one per op kind of a poll).
  *
  * The write settings come from `spark.conf`, not the thread-local
  * `SQLConf.get`: the buffered WAL worker writes from its own thread.
  */
object OpBatchFile {

  /** The settings `ParquetWriteSupport` requires in its configuration. */
  private val writeSettings = Seq(
    SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
    SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
    SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).map(_.key)

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write `rows` (of `schema`) into the new directory `dir`; fails if
    * `dir` exists. The caller publishes `dir` (a staged-dir rename).
    */
  def write(spark: SparkSession, schema: StructType, rows: Seq[Row], dir: Path): Unit = {
    val conf = new Configuration(false)
    ParquetWriteSupport.setSchema(schema, conf)
    writeSettings.foreach(k => conf.set(k, spark.conf.get(k)))
    val codecName = spark.conf.get(SQLConf.PARQUET_COMPRESSION.key)
    val codec =
      if (codecName.equalsIgnoreCase("none")) CompressionCodecName.UNCOMPRESSED
      else CompressionCodecName.fromConf(codecName)
    Files.createDirectories(dir.getParent)
    Files.createDirectory(dir)
    val file = dir.resolve(s"part-00000-${UUID.randomUUID()}${codec.getExtension}.parquet")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = new Builder(new LocalOutputFile(file))
      .withConf(conf).withCompressionCodec(codec).build()
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
    Files.createFile(dir.resolve("_SUCCESS"))
  }
}
