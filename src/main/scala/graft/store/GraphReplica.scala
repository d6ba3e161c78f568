package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.graph.{GraphModel, GraphState, IndexKey}
import graft.streaming.OplogStream

/** Read replica of a [[GraphStore]] — the Spark-suitable fraction of the
  * reference's client/server session layer
  * (/root/reference/library/GraphDB/Server.hs:17-94 serves sessions over a
  * socket; Client.hs:53-117 connects; GraphDB.hs:397-415 wires them): a
  * follower process that BOOTSTRAPS from the writer's newest committed
  * checkpoint ([[GraphStore.snapshot]]) and then TAILS the live WAL
  * (the [[OplogStream]] source) to serve read traffic — `getValue`,
  * `getTargets`, `traverse`, `getStats` — without ever taking the writer's
  * dir lock. The wire protocol itself (Protocol.hs:8-43) has no analog
  * here by design: in the Spark deployment model the "connection" is a
  * shared filesystem / object store, and remote clients reach the replica
  * through Spark Connect, not a bespoke socket protocol (SURVEY §2.A).
  *
  * What IS ported faithfully is the handshake: the reference's client
  * refuses a server whose serialized model version differs
  * (GraphDB.hs:169-174, `ClientFailure`) — bootstrap refuses a store whose
  * `_meta.json` format version this build cannot read, with the same typed
  * [[GraphStore.IncompatibleStoreFormatException]] the writer-side gate
  * throws.
  *
  * Consistency model: eventually consistent, WAL-prefix-ordered — exactly
  * the guarantee the writer's atomic batch publish provides. [[catchUp]]
  * applies everything published at call time; [[follow]] tails
  * continuously. Batches are applied whole and in (eventsIndex, batchSeq)
  * order, so a read between catch-ups observes some commit-boundary prefix
  * of the writer's history, never a torn batch (the `_SUCCESS` gate +
  * atomic rename close the phantom window; see OplogStream.admitCommitted).
  *
  * Scale notes: bootstrap is a parquet read of the checkpoint (co-partitioned
  * by `src` as written); per-trigger work is bounded by `maxFilesPerTrigger`;
  * bulk-ingest WAL batches (`batch-K-bulk`) are folded set-wise via
  * [[GraphState.withTargetsDF]] — a 10^9-edge ingest batch never touches the
  * replica's driver, mirroring [[GraphStore.replay]].
  */
final class GraphReplica[V] private (
    spark: SparkSession,
    model: GraphModel[V],
    storeDir: String,
    val bootstrapIndex: Long,
    offsetsDir: String,
    initialState: GraphState[V]) {

  @volatile private var state: GraphState[V] = initialState

  /** Current replica state — the composable entry point for analytics
    * plans over the replica (same role as GraphSession.applied()).
    */
  def currentState: GraphState[V] = state

  // ------------------------------------------------------------------ reads
  // The served read surface (Server.hs dispatches the same session ops it
  // receives over the wire; here they run against the follower state).

  /** getValue — [[GraphState.getValue]], as GraphSession.getValue (throws
    * on an unknown id, the reference's invalid-ref failure).
    */
  def getValue(n: Long): V = state.getValue(n)

  /** Batched point reads: N lookups answered by ONE Spark job
    * ([[GraphState.getValues]]) — a serving layer fanning out point reads
    * should batch them here. Unknown ids are simply absent from the
    * result (the single-id API keeps its throwing contract). Result is
    * driver-sized: one row per requested id.
    */
  def getValues(ns: Seq[Long]): Map[Long, V] = state.getValues(ns)

  /** getTargets under an index key — distinct, like the writer side. */
  def getTargets(n: Long, k: IndexKey): Seq[Long] = state.getTargets(n, k)

  /** traverseTargets — distinct targets regardless of key. */
  def targets(n: Long): Seq[Long] = state.targets(n)

  /** traverseSources. */
  def sources(n: Long): Seq[Long] = state.sources(n)

  /** getStats of the closure reachable from `from` (default root). */
  def getStats(from: Long = 0L): (Long, Long, Long) = state.stats(from)

  // ----------------------------------------------------------------- tailing

  /** Apply every WAL batch published up to now, then return — the
    * bootstrap / poll shape. Successive calls resume from the streaming
    * source's durable offsets (only NEW batches are read and applied).
    */
  def catchUp(maxFilesPerTrigger: Int = 32): Unit =
    follow(Trigger.AvailableNow(), maxFilesPerTrigger).awaitTermination()

  /** Tail the writer's WAL continuously (ProcessingTime trigger) or until
    * exhaustion (AvailableNow). Apply semantics are at-least-once per
    * micro-batch on crash-recovery, like OplogStream.follow — but edge
    * set-ops are idempotent and node/value applies converge, and within one
    * replica process each batch is applied exactly once.
    */
  def follow(trigger: Trigger,
      maxFilesPerTrigger: Int = 32): StreamingQuery =
    OplogStream.readOps(spark, model, storeDir, maxFilesPerTrigger)
      .writeStream
      .trigger(trigger)
      .outputMode("append")
      .option("checkpointLocation", offsetsDir)
      .foreachBatch { (batch: DataFrame, _: Long) => applyWal(batch) }
      .start()

  /** Batch dirs whose data files have not all been delivered by the file
    * source yet: dir → (buffered rows, data-file names seen so far). A
    * multi-file `-bulk` dir (commitBulk writes one part per partition) can
    * be SPLIT across triggers by `maxFilesPerTrigger`; its rows wait here
    * until the dir is whole. Bounded by one in-flight publish unit.
    */
  private var pendingDirs: Map[String, (DataFrame, Set[String])] = Map.empty

  /** Per-trigger batch checkpoints still referenced by [[pendingDirs]]
    * slices, REFCOUNTED by the pending dirs they feed: a split dir keeps
    * its source triggers' checkpoints alive until the dir completes and
    * applies, and each checkpoint is unpersisted DETERMINISTICALLY the
    * moment its last referencing dir applies — state transitions are
    * eagerly checkpointed and op batches collected before apply, so
    * nothing references it, and relying on GC-driven cleanup would hold a
    * bulk ingest's blocks indefinitely on an idle driver. Refcounts (not
    * a drain-all barrier) matter under sustained traffic where trigger
    * boundaries straddle consecutive dirs: the pending buffer may never
    * be globally empty, but every applied dir still frees its triggers.
    * This is the mechanical form of the "bounded by one in-flight publish
    * unit" claim.
    */
  private val ckptRefs = scala.collection.mutable.Map[DataFrame, Int]()
  private var dirCkpts: Map[String, List[DataFrame]] = Map.empty

  // spec instrumentation (ReplicaSpec pending-bound case): row counting
  // costs one job per trigger, so it is flag-gated; dir/ckpt counters are
  // free and always maintained
  private[graft] var trackPendingStats = false
  private[graft] var maxPendingRowsObserved = 0L
  private[graft] var maxPendingDirsObserved = 0
  private[graft] var releasedRddIds: Seq[Int] = Nil
  private[graft] def pendingDirCount: Int = pendingDirs.size
  private[graft] def retainedCkptCount: Int = ckptRefs.size

  private def releaseCkpt(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        // diagnostics only — keep a bounded tail so a replica tailing for
        // months doesn't accumulate an id per trigger forever
        releasedRddIds = (releasedRddIds :+ l.rdd.id).takeRight(1024)
      case _ => ()
    }
  }

  /** Drop one dir's hold on its source-trigger checkpoints. */
  private def unref(dir: String): Unit = {
    dirCkpts.getOrElse(dir, Nil).foreach { c =>
      val left = ckptRefs.getOrElse(c, 1) - 1
      if (left <= 0) { ckptRefs -= c; releaseCkpt(c) }
      else ckptRefs(c) = left
    }
    dirCkpts -= dir
  }

  /** High-watermark of applied batch dirs — (eventsIndex, batchSeq) of the
    * newest applied dir. The file source orders files by mtime, and two
    * dirs published within the same mtime granularity can cross a trigger
    * boundary in inverted order; applying them inverted (e.g. batch-K's
    * `add` after batch-K+1's `rmt`) would leave the replica permanently
    * divergent, so an out-of-order arrival fails loudly instead.
    */
  private var appliedMark: (Long, Long) = (Long.MinValue, Long.MinValue)

  /** The WAL coverage of the current replica state, as an
    * (eventsIndex, batchSeq) stamp: every batch dir ≤ this mark is folded
    * in — via the bootstrap checkpoint (which covers all events dirs ≤
    * [[bootstrapIndex]]) or an applied micro-batch. Mid-txn reads stamp
    * their snapshot with this so the write server can detect at apply
    * time whether anything the txn read was mutated after it
    * (RemoteWrite's stale-read conflict check).
    */
  def watermark: (Long, Long) = {
    val boot = (bootstrapIndex, Long.MaxValue)
    if (Ordering[(Long, Long)].gt(appliedMark, boot)) appliedMark else boot
  }

  /** Fold one micro-batch of WAL rows into the follower state, in WAL
    * order. Rows from event dirs ≤ [[bootstrapIndex]] are already folded
    * into the bootstrap checkpoint and are dropped (permanently — the file
    * source marks their files seen, which is exactly right: they are
    * history). Remaining rows are grouped by their batch dir; WHOLE dirs
    * are applied ascending by (eventsIndex, batchSeq) — bulk dirs set-wise
    * as one DataFrame union, op dirs through OplogStream.applyOpBatch —
    * and a dir missing any of its data files defers (itself and every dir
    * behind it) to a later trigger, so a read between triggers still
    * observes a commit-boundary prefix of the writer's history, never a
    * torn batch.
    */
  private def applyWal(batch: DataFrame): Unit = {
    import OplogStream.uriToPath
    val withDir = batch
      .withColumn("_path", input_file_name())
      .withColumn("_eidx",
        regexp_extract(col("_path"), "/(\\d+)\\.events/", 1).cast("long"))
      .withColumn("_dir",
        regexp_extract(col("_path"), "^(.*/\\d+\\.events/batch-[^/]+)/", 1))
      .where(col("_eidx") > bootstrapIndex)
      // rows must outlive this micro-batch: a split dir's rows sit in
      // pendingDirs until a later trigger delivers the rest of the dir
      // (refcounted below; freed when the last referencing dir applies)
      .localCheckpoint(true)
    // (dir → data files delivered this trigger) — driver-sized, bounded by
    // maxFilesPerTrigger
    val arrived: Map[String, Set[String]] =
      withDir.select("_dir", "_path").distinct().collect()
        .groupBy(_.getString(0))
        .map { case (d, rs) =>
          d -> rs.map(r => uriToPath(r.getString(1)).getFileName.toString).toSet
        }
        // _SUCCESS gate, same decode as OplogStream.admitCommitted (the
        // regex keeps `_dir` a valid URI prefix): an unmarked dir in a
        // current-format store cannot appear (atomic publish), but a
        // legacy/tampered store must not feed the replica torn batches.
        // ARCHIVE-AWARE: the writer's close() moves whole events dirs to
        // archive/ — a batch committed in either location is admitted,
        // else a replica tailing through a close would permanently drop
        // acknowledged commits as "torn"
        .filter { case (d, _) =>
          OplogStream.committedBatchDir(uriToPath(d)).isDefined
        }
    arrived.foreach { case (d, files) =>
      val rows = withDir.where(col("_dir") === d).drop("_path", "_eidx", "_dir")
      pendingDirs = pendingDirs.updatedWith(d) {
        case Some((prev, seen)) => Some((prev.unionByName(rows), seen ++ files))
        case None => Some((rows, files))
      }
    }
    if (arrived.nonEmpty) {
      ckptRefs(withDir) = arrived.size
      arrived.keys.foreach { d =>
        dirCkpts = dirCkpts.updatedWith(d)(l => Some(withDir :: l.getOrElse(Nil)))
      }
    } else releaseCkpt(withDir) // nothing pending references this trigger
    if (trackPendingStats) { // peak of the buffer: arrivals in, nothing applied yet
      maxPendingDirsObserved = math.max(maxPendingDirsObserved, pendingDirs.size)
      maxPendingRowsObserved = math.max(maxPendingRowsObserved,
        pendingDirs.valuesIterator.map(_._1.count()).sum)
    }
    // a dir carrying _SUCCESS is final on disk: complete ⟺ every data
    // file physically in the dir has been delivered to this replica
    // (listed wherever the dir lives NOW — close() may have archived it)
    def complete(d: String): Boolean =
      OplogStream.committedBatchDir(uriToPath(d)).exists { p =>
        val seen = pendingDirs(d)._2
        GraphStore.listPaths(p).map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith("."))
          .forall(seen.contains)
      }
    val BatchDir = """.*/(\d+)\.events/batch-(\d+)(-bulk)?$""".r
    val keyed = pendingDirs.keys.flatMap {
      case d @ BatchDir(eidx, bseq, bulk) =>
        Some(((eidx.toLong, bseq.toLong), d, bulk != null))
      case _ => None
    }.toSeq.sortBy(_._1)
    // longest COMPLETE prefix in (eidx, bseq) order: a complete dir behind
    // an incomplete one waits too — its predecessor is mid-delivery, and
    // applying around it would break the prefix guarantee
    keyed.takeWhile { case (_, d, _) => complete(d) }
      .foreach { case (k, dir, isBulk) =>
        if (Ordering[(Long, Long)].lteq(k, appliedMark))
          throw new IllegalStateException(
            s"WAL batch $dir (key $k) arrived after a later batch " +
              s"($appliedMark) was already applied — out-of-order file-source " +
              "delivery; bootstrap a fresh replica")
        val rows = pendingDirs(dir)._1
        state =
          if (isBulk) state.withTargetsDF(rows.select("src", "dst")).checkpointedSince(state)
          else OplogStream.applyOpBatch(model, state, rows)
        appliedMark = k
        pendingDirs -= dir
        unref(dir)
      }
  }
}

object GraphReplica {

  /** Bootstrap a replica: newest committed checkpoint (live or archived)
    * via [[GraphStore.snapshot]] — which REFUSES an incompatible store
    * format with the typed handshake error — or empty state for a store
    * that has never checkpointed (full-WAL replay via the first catchUp).
    * No writer lock is taken: replicas coexist with a live writer.
    *
    * `offsetsDir` persists the streaming source's file offsets so repeated
    * [[GraphReplica.catchUp]] calls apply only newly published batches;
    * default is a fresh temp dir (per-process replica).
    */
  def bootstrap[V](spark: SparkSession, model: GraphModel[V], storeDir: String,
      offsetsDir: Option[String] = None): GraphReplica[V] = {
    val idx = GraphStore.snapshots(storeDir).lastOption
    val st = idx match {
      case Some(i) => GraphStore.snapshot(spark, model, storeDir, i).checkpointed()
      case None => GraphState.empty(spark, model)
    }
    new GraphReplica(spark, model, storeDir, idx.getOrElse(0L),
      offsetsDir.getOrElse(
        Files.createTempDirectory("graft-replica-offsets-").toString),
      st)
  }
}
