package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.graph.{GraphModel, GraphState}

/** Streaming ingestion of a graph op-log — the Structured-Streaming form of
  * the reference's buffered async WAL apply
  * (/root/reference/library/GraphDB/Persistent.hs:108-117, IOQueue.hs:20-48):
  * op batches land as parquet under `<store>/N.events/batch-K/` (see
  * graft.store.GraphStore) and a follower session folds them into its own
  * GraphState via `foreachBatch`. `PersistenceBuffering` (the reference's
  * bounded queue of pending txns) maps to the micro-batch trigger interval
  * + `maxFilesPerTrigger`.
  */
object OplogStream {

  /** Tail a store's op-log as a stream of op rows (schema shared with the
    * writer — graft.store.GraphStore.opSchema).
    */
  def readOps(spark: SparkSession, model: GraphModel[_], storeDir: String,
      maxFilesPerTrigger: Int = 32): DataFrame =
    spark.readStream.schema(graft.store.GraphStore.opSchema(model))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$storeDir/*.events/batch-*")

  /** Fold op batches into a follower GraphState set-wise (no per-op driver
    * loop: each micro-batch applies new nodes / edges / removals as whole
    * DataFrames). Follower state is eventually consistent with the writer.
    *
    * `trigger` defaults to AvailableNow (catch-up-and-stop — the test and
    * bootstrap shape); pass `Trigger.ProcessingTime(...)` to TAIL a live
    * writer continuously.
    *
    * `checkpointDir` CAUTION: follower state lives in this process while
    * source offsets are what the checkpoint makes durable — so a RESTART
    * of follow() against a reused checkpointDir starts from an EMPTY
    * in-process state but the source never re-delivers the already-seen
    * files: every pre-restart op would be silently absent. Reuse a
    * checkpointDir only when the caller restores matching state itself;
    * that pairing is exactly what [[graft.store.GraphReplica]] implements
    * (checkpoint bootstrap + durable offsets) — long-lived followers
    * should use it.
    *
    * Ordering: ops are applied in `seq` order within a micro-batch, and a
    * cross-trigger watermark REFUSES out-of-order delivery of op batches
    * (two dirs published within one mtime granularity can cross a trigger
    * boundary inverted; silently applying `rmt` before its `add` would
    * leave the follower permanently divergent). Bulk `-bulk` dirs are
    * exempt — their rows are commutative set unions and a multi-file bulk
    * dir may legitimately arrive split across triggers in any file order
    * (a bulk-ingesting store's follower should bootstrap from a
    * checkpoint, per [[applyOpBatch]]'s note).
    */
  def follow[V](spark: SparkSession, model: GraphModel[V], storeDir: String,
      onBatch: GraphState[V] => Unit,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpointDir: Option[String] = None): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    var state = GraphState.empty(spark, model)
    var maxSeq = Long.MinValue
    val writer = readOps(spark, model, storeDir).writeStream
      .trigger(trigger)
      .outputMode("append")
    checkpointDir.foreach(c => writer.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val admitted = admitCommitted(batch)
          .withColumn("_bulk", input_file_name().rlike("/batch-\\d+-bulk/"))
        val (next, lo, hi) = applyOpBatchBounds(model, state, admitted)
        if (lo != Long.MinValue) { // bounds cover non-bulk rows only
          if (lo <= maxSeq) throw new IllegalStateException(
            s"WAL op batch arrived out of order (seq $lo after $maxSeq was " +
              "applied) — mtime-tie inversion across trigger boundaries; " +
              "bootstrap a fresh follower (GraphReplica applies dirs whole " +
              "and ordered)")
          maxSeq = hi
        }
        state = next
        onBatch(state)
      }
      .start()
  }

  /** Admit only rows from batch dirs carrying the `_SUCCESS` commit marker
    * (written last by both WAL writers). The writer publishes batches with an atomic directory rename
    * (graft.store.GraphStore.writeWalBatch), so with a current-format store
    * this filter never drops anything — it is defense against legacy or
    * tampered stores where a torn batch dir (no marker) could otherwise be
    * applied by the follower and then dropped by the writer's crash
    * recovery (phantom ops). Rows dropped here are dropped PERMANENTLY for
    * this follower (the file source has marked their files seen) — exactly
    * the recovery semantics: an unmarked batch was never acknowledged.
    */
  private[streaming] def admitCommitted(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val withPath = batch.withColumn("_path", input_file_name())
    // distinct file paths are bounded by maxFilesPerTrigger — driver-sized
    val torn = withPath.select("_path").distinct().collect()
      .map(_.getString(0))
      .filter(p => committedBatchDir(uriToPath(p).getParent).isEmpty)
    if (torn.isEmpty) batch
    else withPath.where(!col("_path").isin(torn.toIndexedSeq: _*)).drop("_path")
  }

  /** Resolve a batch dir to wherever its `_SUCCESS` marker lives NOW —
    * live location or the writer's `archive/` — or None for a genuinely
    * torn dir. The writer's close() MOVES whole events dirs into archive
    * (GraphStore.cleanUp), and a follower tailing through that close used
    * to find the live path gone, classify every row of the committed
    * batch as torn, and drop it PERMANENTLY (the file source had marked
    * the files seen). A batch that was committed anywhere must be
    * admitted; only a dir with a marker in NEITHER location was never
    * acknowledged.
    */
  private[graft] def committedBatchDir(batchDir: java.nio.file.Path)
      : Option[java.nio.file.Path] = {
    import java.nio.file.Files
    if (Files.exists(batchDir.resolve("_SUCCESS"))) Some(batchDir)
    else
      for {
        events <- Option(batchDir.getParent)
        root <- Option(events.getParent)
        archived = root.resolve("archive").resolve(events.getFileName.toString)
          .resolve(batchDir.getFileName.toString)
        if Files.exists(archived.resolve("_SUCCESS"))
      } yield archived
  }

  /** Decode a file-source URI (`input_file_name()` output — percent-
    * encoded) to a local filesystem path. Every `_SUCCESS` gate must go
    * through this: a naive `stripPrefix("file:")` breaks on paths with a
    * space, '%', or non-ASCII char, silently classifying every committed
    * batch as torn — and torn rows are dropped PERMANENTLY (the file
    * source marks them seen), so a follower would serve stale data
    * forever.
    */
  private[graft] def uriToPath(uri: String): java.nio.file.Path =
    java.nio.file.Paths.get(java.net.URI.create(uri).getPath)

  /** Apply one op-batch DataFrame, preserving total op order (seq).
    *
    * Scale note (honest limit): run-boundary detection needs the ops in
    * order, so the batch is collected to the driver — bounded by
    * `maxOpsPerApply`. This matches the write path (GraphSession ops are
    * driver-issued), and micro-batch size is already capped by
    * `maxFilesPerTrigger`. A bulk-ingest follower that must stay fully
    * distributed should instead re-run `GraphState.bulkLoad` over the
    * writer's checkpoint — the WAL follower is for incremental tailing.
    */
  def applyOpBatch[V](model: GraphModel[V], state: GraphState[V],
      batch: DataFrame, maxOpsPerApply: Int = 1 << 22): GraphState[V] =
    applyOpBatchBounds(model, state, batch, maxOpsPerApply)._1

  /** [[applyOpBatch]] plus the (min, max) seq of the applied NON-bulk rows
    * (Long.MinValue sentinels when none) — the cross-trigger ordering
    * watermark [[follow]] maintains. Rows flagged by a `_bulk` column
    * (bulk-ingest WAL batches) are exempt from the bounds AND applied
    * through the unguarded set-wise path: bulk edges may legitimately
    * reference node-less ids (commitBulk's documented contract), so the
    * driver-op path's unknown-id guard must not fire on them; they still
    * apply at their seq position relative to neighboring op runs.
    */
  private[graft] def applyOpBatchBounds[V](model: GraphModel[V],
      state: GraphState[V], batch: DataFrame,
      maxOpsPerApply: Int = 1 << 22): (GraphState[V], Long, Long) = {
    import org.apache.spark.sql.functions._
    val bulkIdx = batch.columns.indexOf("_bulk")
    def isBulk(r: org.apache.spark.sql.Row): Boolean =
      bulkIdx >= 0 && !r.isNullAt(bulkIdx) && r.getBoolean(bulkIdx)
    val rows = batch.orderBy("seq").limit(maxOpsPerApply + 1).collect()
    require(rows.length <= maxOpsPerApply,
      s"op batch exceeds $maxOpsPerApply rows; lower maxFilesPerTrigger or " +
        "bootstrap the follower from a checkpoint instead")
    // batches are small per-commit; group consecutive same-op runs exactly
    // like GraphSession.applied() (bulkness is part of the run boundary so
    // a bulk add-run never mixes into a guarded session add-run)
    var st = state
    var run = List.empty[org.apache.spark.sql.Row]
    def flush(): Unit = if (run.nonEmpty) {
      val rs = run.reverse
      val prev = st
      rs.head.getString(1) match {
        case "add" if isBulk(rs.head) =>
          st = st.withTargetsDF(st.spark.createDataFrame(
            st.spark.sparkContext.parallelize(
              rs.map(r => org.apache.spark.sql.Row(r.getLong(3), r.getLong(4))), 1),
            graft.graph.GraphState.edgesSchema))
        case "new" => st = st.withNewNodes(rs.map(r =>
          (r.getLong(2), model.fromValueRow(r.getString(5), r.getStruct(6)))))
        case "set" =>
          // keep-last by id, mirroring GraphSession.applied(): the writer's
          // WAL logs EVERY SetValue (only state is deduped), so a run can
          // carry several sets of one id — replaying all of them through
          // withValues would union duplicate node rows after the anti-join
          st = st.withValues(graft.graph.GraphOp.keepLastById(
            rs.map(r => (r.getLong(2),
              model.fromValueRow(r.getString(5), r.getStruct(6))))))
        case "add" =>
          // validate = false: a follower bootstrapped mid-history may lack
          // nodes its WAL suffix references — tolerance is the follower
          // posture; the WRITER session path is where invalid refs refuse
          st = st.withTargets(rs.map(r => (r.getLong(3), r.getLong(4))),
            validate = false)
        case "rmt" => st = st.withoutTargets(rs.map(r => (r.getLong(3), r.getLong(4))))
        case "rm" => st = st.withoutNodes(rs.map(_.getLong(2)))
      }
      st = st.checkpointedSince(prev)
      run = Nil
    }
    rows.foreach { r =>
      if (run.nonEmpty && (run.head.getString(1) != r.getString(1) ||
          isBulk(run.head) != isBulk(r))) flush()
      run = r :: run
    }
    flush()
    val nonBulk = rows.filterNot(isBulk)
    (st,
      nonBulk.headOption.fold(Long.MinValue)(_.getLong(0)),
      nonBulk.lastOption.fold(Long.MinValue)(_.getLong(0)))
  }
}
