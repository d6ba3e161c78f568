package graft.store

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{DelegatingPositionOutputStream, DelegatingSeekableInputStream, InputFile, LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** A driver-sized batch of rows as a parquet directory, written and read on
  * the calling thread by parquet's own writer and reader, with no Spark job.
  * [[write]] leaves ONE parquet file and an empty `_SUCCESS`: the directory
  * a one-task `df.write.parquet` leaves, without the Spark job, Hadoop's
  * local file system or its commit protocol. [[read]] reads back every data
  * file of such a directory, so a batch written by a Spark job reads too.
  * Rows are encoded and decoded by Spark's `ParquetWriteSupport` and
  * `ParquetReadSupport`, so both sides agree with `spark.read.parquet`.
  * It carries the WAL's op batches, RemoteWrite's shipped transactions, and
  * RemoteRead's answer batches (one per op kind of a poll). [[encode]] and
  * [[decode]] are the same file as bytes in memory: the payloads of a
  * [[Wire]] frame.
  *
  * The settings come from `spark.conf`, not the thread-local `SQLConf.get`:
  * the buffered WAL worker writes from its own thread.
  */
object OpBatchFile {

  /** A configuration holding the settings `ParquetWriteSupport` requires,
    * those `ParquetToSparkSchemaConverter` reads (`ParquetReadSupport`
    * builds one per file) and the read rebase modes, as `spark.conf` has
    * them.
    */
  private def settings(spark: SparkSession): Configuration = {
    val conf = new Configuration(false)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
      SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
      SQLConf.PARQUET_REBASE_MODE_IN_READ,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ)
      .foreach(e => conf.set(e.key, spark.conf.get(e.key)))
    conf
  }

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
    val codec = codecOf(spark)
    Files.createDirectories(dir.getParent)
    Files.createDirectory(dir)
    val file = dir.resolve(s"part-00000-${UUID.randomUUID()}${codec.getExtension}.parquet")
    writeTo(spark, schema, rows, new LocalOutputFile(file), codec)
    Files.createFile(dir.resolve("_SUCCESS"))
  }

  /** The parquet file [[write]] leaves for `rows`, as bytes. */
  def encode(spark: SparkSession, schema: StructType, rows: Seq[Row]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    writeTo(spark, schema, rows, new OutputFile {
      def create(blockSizeHint: Long) = new DelegatingPositionOutputStream(bytes) {
        def getPos: Long = bytes.size.toLong
      }
      def createOrOverwrite(blockSizeHint: Long) = create(blockSizeHint)
      def supportsBlockSize = false
      def defaultBlockSize = 0L
    }, codecOf(spark))
    bytes.toByteArray
  }

  private def codecOf(spark: SparkSession): CompressionCodecName = {
    val name = spark.conf.get(SQLConf.PARQUET_COMPRESSION.key)
    if (name.equalsIgnoreCase("none")) CompressionCodecName.UNCOMPRESSED
    else CompressionCodecName.fromConf(name)
  }

  private def writeTo(spark: SparkSession, schema: StructType, rows: Seq[Row],
      file: OutputFile, codec: CompressionCodecName): Unit = {
    val conf = settings(spark)
    ParquetWriteSupport.setSchema(schema, conf)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = new Builder(file).withConf(conf).withCompressionCodec(codec).build()
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }

  /** `ParquetReadSupport` for one file read with `conf`: reads `schema`,
    * else the Spark schema its writer stored in the footer, with the
    * file's own datetime rebase modes, as Spark's file source does.
    */
  private final class Support(schema: Option[StructType], conf: Configuration)
      extends ReadSupport[InternalRow] {
    private var inner: ParquetReadSupport = _
    var readSchema: StructType = _

    override def init(context: InitContext): ReadSupport.ReadContext = {
      val meta = context.getKeyValueMetadata
      val fileMeta = (k: String) => Option(meta.get(k)).map(_.iterator.next).orNull
      readSchema = schema
        .orElse(Option(fileMeta(ParquetReadSupport.SPARK_METADATA_KEY))
          .map(DataType.fromJson(_).asInstanceOf[StructType]))
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(context.getFileSchema))
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
      inner = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(fileMeta,
          conf.get(SQLConf.PARQUET_REBASE_MODE_IN_READ.key)),
        DataSourceUtils.int96RebaseSpec(fileMeta,
          conf.get(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ.key)))
      inner.init(new InitContext(conf, meta, context.getFileSchema))
    }

    override def prepareForRead(conf: Configuration, keyValueMetaData: java.util.Map[String, String],
        fileSchema: MessageType, context: ReadSupport.ReadContext): RecordMaterializer[InternalRow] =
      inner.prepareForRead(conf, keyValueMetaData, fileSchema, context)
  }

  // given its configuration up front: the one-argument constructor builds
  // a default Hadoop configuration, whose resource loading costs more than
  // reading a small batch
  private final class ReaderBuilder(file: InputFile, conf: Configuration, support: Support)
      extends ParquetReader.Builder[InternalRow](file, new HadoopParquetConfiguration(conf)) {
    override protected def getReadSupport(): ReadSupport[InternalRow] = support
  }

  /** The rows of the batch directory `dir` that pass `keep`, at most
    * `limit` of them: every data file (names not starting with `_` or `.`,
    * the files `spark.read.parquet` reads) in name order, each in file
    * order. `schema` selects columns by name, as `spark.read.schema` does;
    * `None` reads each file with the schema stored in its footer.
    */
  def read(spark: SparkSession, schema: Option[StructType], dir: Path,
      limit: Int = Int.MaxValue, keep: Row => Boolean = _ => true): Seq[Row] = {
    val files = GraphStore.listPaths(dir)
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.matches("[_.].*"))
      .sortBy(_.getFileName.toString)
    readFrom(spark, schema, files.map(new LocalInputFile(_)), limit, keep)
  }

  /** [[read]] of one file [[encode]] made. */
  def decode(spark: SparkSession, schema: Option[StructType], bytes: Array[Byte],
      limit: Int = Int.MaxValue): Seq[Row] = {
    val file = new InputFile {
      def getLength: Long = bytes.length.toLong
      def newStream() = {
        val in = new ByteArrayInputStream(bytes) {
          def position: Long = pos.toLong
          def seekTo(p: Long): Unit = pos = p.toInt
        }
        new DelegatingSeekableInputStream(in) {
          def getPos: Long = in.position
          def seek(p: Long): Unit = in.seekTo(p)
        }
      }
    }
    readFrom(spark, schema, Seq(file), limit, _ => true)
  }

  private def readFrom(spark: SparkSession, schema: Option[StructType], files: Seq[InputFile],
      limit: Int, keep: Row => Boolean): Seq[Row] = {
    val conf = settings(spark)
    val out = Vector.newBuilder[Row]
    var n = 0
    val it = files.iterator
    while (n < limit && it.hasNext) {
      val support = new Support(schema, conf)
      val reader = new ReaderBuilder(it.next(), conf, support).build()
      try {
        var record = reader.read()
        // the schema is known once the first read opened the file; the
        // reader reuses its record, so each is converted before the next
        lazy val toScala = CatalystTypeConverters.createToScalaConverter(support.readSchema)
        while (n < limit && record != null) {
          val row = toScala(record).asInstanceOf[Row]
          if (keep(row)) { out += row; n += 1 }
          record = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }
}
