package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the classic Column ↔ Expression converters, which are
  * `private[sql]` in Spark 4 (the Connect refactor hid them). Needed so
  * graft's native Catalyst expressions (graft.functions.*) can be exposed
  * as Columns without going through the string `expr()` parser.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `SparkSession.sessionUUID` is `private[sql]` in Spark 4; graft keys
    * its per-session caches on it (stable id, no strong session reference).
    */
  def sessionUUID(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID

  /** Spark's standard WRONG_NUM_ARGS analysis error — the builder-side
    * arity refusal (`QueryCompilationErrors` is `private[sql]`).
    */
  def wrongNumArgs(fn: String, expected: Int, actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(fn, Seq(expected), actual)

  /** One local relation over rows already in Catalyst's internal form —
    * `createDataFrame` minus its per-row conversion (`Dataset.ofRows` and
    * `LocalRelation`'s attribute helper are `private[sql]`).
    */
  def localRelation(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(
        catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** A relation over `count` rows already in Catalyst's internal form, in
    * `schema`'s column order — the relation `Dataset.localCheckpoint`
    * builds, over an RDD the caller placed (`LogicalRDD` and
    * `Dataset.ofRows` are `private[sql]`). Its partitioning is unknown to
    * Catalyst, and its size is `count` rows of the schema's estimated
    * width, as a local relation is sized.
    */
  def rddRelation(spark: SparkSession, schema: types.StructType,
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow], count: Long): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val output = catalyst.types.DataTypeUtils.toAttributes(schema)
    val stats = catalyst.plans.logical.Statistics(
      sizeInBytes = catalyst.plans.logical.statsEstimation.EstimationUtils
        .getSizePerRow(output) * count,
      rowCount = Some(count))
    classic.Dataset.ofRows(cs, execution.LogicalRDD(output, rows)(cs, Some(stats), None))
  }

  /** ONE partitioned parquet relation over an EXPLICIT file list, which
    * may span several root directories — the read of a persisted index's
    * cells manifest (graft.pipeline.CellsLayout; a mutated clone's
    * manifest references the source's files until its own mutations
    * write local ones). Partition values are supplied directly as a user
    * [[execution.datasources.PartitionSpec]] (parsed from the manifest's
    * relative paths by the caller). The result is an ordinary partitioned
    * HadoopFsRelation: static partition pruning AND dynamic partition
    * pruning apply exactly as they do to a directory-resolved scan
    * (plan-asserted in PipelineSpec).
    *
    * The read runs no Spark job. `spark.read` over more than 32 explicit
    * paths lists them with a parallel-listing job on every read (its
    * file-status cache is per read), and without a schema it infers one
    * with another job. Here the file statuses come from one
    * `getFileStatus` per named file on the driver, served to the index
    * through its file-status cache, and the data schema from the first
    * file's footer, read with Spark's own footer-to-schema rule — every
    * file of a manifest generation carries the table's one schema.
    *
    * `partitionDirs` maps each leaf partition directory (absolute) to its
    * partition-column values; every file's parent must appear in it. The
    * file-count guard below turns a path-qualification mismatch (which
    * would otherwise serve an EMPTY scan — the worst failure shape) into
    * a loud error.
    */
  def partitionedParquetDF(
      spark: SparkSession,
      partCols: Seq[String],
      partitionDirs: Seq[(Seq[Int], String)],
      files: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.execution.datasources.parquet._
    val cs = spark.asInstanceOf[classic.SparkSession]
    val hconf = cs.sparkContext.hadoopConfiguration
    val partSchema = types.StructType(partCols.map(c =>
      types.StructField(c, types.IntegerType, nullable = true)))
    // one directory per partition: an index addressed by two path forms
    // (`/x` and `file:/x`) lists the same directory under two roots, and
    // a repeated partition would read its files twice
    val parts = partitionDirs.map { case (vals, d) =>
      val p = new Path(d)
      val q = p.getFileSystem(hconf).makeQualified(p)
      PartitionPath(
        catalyst.InternalRow.fromSeq(vals), q)
    }.distinctBy(_.path)
    val paths = files.map(f => new Path(f))
    val statuses: Map[Path, Array[FileStatus]] = paths.map(p =>
      p -> Array(p.getFileSystem(hconf).getFileStatus(p))).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        statuses.get(path)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val first = statuses(paths.head).head.getPath
    val dataSchema = ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(first,
        ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(first,
            cs.sessionState.newHadoopConf()),
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(cs.sessionState.conf)).asNullable
    val index = new InMemoryFileIndex(cs, paths, Map.empty, None, listed,
      Some(PartitionSpec(partSchema, parts)), None)
    val rel = HadoopFsRelation(index, partSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(cs)
    val df = cs.baseRelationToDataFrame(rel)
    val matched = df.inputFiles.length
    require(matched == files.size,
      s"file-list relation matched $matched of ${files.size} files — " +
        "partition-dir qualification mismatch; refusing to serve a " +
        "silently truncated scan")
    df
  }
}
