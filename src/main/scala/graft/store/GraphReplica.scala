package graft.store

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.graph.{GraphModel, GraphSession, GraphState, IndexKey}

/** Read replica of a [[GraphStore]] — the Spark-suitable fraction of the
  * reference's client/server session layer
  * (/root/reference/library/GraphDB/Server.hs:17-94 serves sessions over a
  * socket; Client.hs:53-117 connects; GraphDB.hs:397-415 wires them): a
  * follower process that BOOTSTRAPS from the writer's newest committed
  * checkpoint ([[GraphStore.snapshot]]) and then CATCHES UP on the WAL the
  * writer publishes after it, to serve read traffic — `getValue`,
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
  * replays the committed batch dirs after the replica's mark the way the
  * writer's own recovery does ([[GraphStore.committedBatches]], then
  * [[GraphStore.replayBatch]] into a session over the current state), so
  * the replica holds what the writer would recover from the same files,
  * and refuses what the writer's open would refuse. The new state and its
  * mark are published together, and only once every listed batch has
  * applied: a read between catch-ups observes a commit-boundary prefix of
  * the writer's history, never a torn batch, and a failed catch-up
  * publishes nothing and retries from the same mark.
  *
  * Scale notes: bootstrap is a parquet read of the checkpoint (co-partitioned
  * by `src` as written). A catch-up with nothing new is a directory listing
  * and runs no Spark job; driver-written op batches are read on the driver
  * and apply like one commit of their ops (one lookup for a stretch of
  * new nodes and edges, run in place over the keyed bases the driver
  * holds). Bulk-ingest WAL batches (`batch-K-bulk`) are
  * folded set-wise via [[GraphState.withTargetsDF]] — a 10^9-edge ingest
  * batch never touches the replica's driver, as in the writer's recovery.
  */
final class GraphReplica[V] private (
    spark: SparkSession,
    model: GraphModel[V],
    storeDir: String,
    val bootstrapIndex: Long,
    initialState: GraphState[V]) {

  /** The served state and the (eventsIndex, batchSeq) mark it covers, in
    * one field so a reader never pairs a state with another's mark.
    */
  @volatile private var current: (GraphState[V], (Long, Long)) =
    (initialState, (bootstrapIndex, Long.MaxValue))

  /** Current replica state — the composable entry point for analytics
    * plans over the replica (same role as GraphSession.applied()).
    */
  def currentState: GraphState[V] = current._1

  // ------------------------------------------------------------------ reads
  // The served read surface (Server.hs dispatches the same session ops it
  // receives over the wire; here they run against the follower state).

  /** getValue — [[GraphState.getValue]], as GraphSession.getValue (throws
    * on an unknown id, the reference's invalid-ref failure).
    */
  def getValue(n: Long): V = currentState.getValue(n)

  /** Batched point reads: N lookups answered by ONE probe
    * ([[GraphState.getValues]]) — a serving layer fanning out point reads
    * should batch them here. Unknown ids are simply absent from the
    * result (the single-id API keeps its throwing contract). Result is
    * driver-sized: one row per requested id.
    */
  def getValues(ns: Seq[Long]): Map[Long, V] = currentState.getValues(ns)

  /** getTargets under an index key — distinct, like the writer side. */
  def getTargets(n: Long, k: IndexKey): Seq[Long] = currentState.getTargets(n, k)

  /** traverseTargets — distinct targets regardless of key. */
  def targets(n: Long): Seq[Long] = currentState.targets(n)

  /** traverseSources. */
  def sources(n: Long): Seq[Long] = currentState.sources(n)

  /** getStats of the closure reachable from `from` (default root). */
  def getStats(from: Long = 0L): (Long, Long, Long) = currentState.stats(from)

  // -------------------------------------------------------------- catching up

  /** The WAL coverage of the current replica state, as an
    * (eventsIndex, batchSeq) stamp: every batch dir ≤ this mark is folded
    * in — via the bootstrap checkpoint (which covers all events dirs ≤
    * [[bootstrapIndex]]) or a catch-up. Mid-txn reads stamp their
    * snapshot with this so the write server can detect at apply time
    * whether anything the txn read was mutated after it (RemoteWrite's
    * stale-read conflict check).
    */
  def watermark: (Long, Long) = current._2

  /** Apply every WAL batch committed after the replica's mark, then return.
    * Calls are serialized; reads run concurrently against the previously
    * published state. An op the writer's recovery refuses (an edge naming
    * a node the state lacks) fails the catch-up with the same
    * IllegalArgumentException, and state and mark stay as they were.
    */
  def catchUp(): Unit = synchronized {
    val (state, mark) = current
    val batches = GraphStore.committedBatches(Paths.get(storeDir), mark)
    if (batches.nonEmpty) {
      val session = GraphSession.fromState(spark, model, state, 0L)
      batches.foreach { case (_, b) => GraphStore.replayBatch(spark, model, session, b) }
      current = (session.applied(), batches.last._1)
    }
  }
}

object GraphReplica {

  /** Bootstrap a replica: newest committed checkpoint (live or archived)
    * via [[GraphStore.snapshot]] — which REFUSES an incompatible store
    * format with the typed handshake error — or empty state for a store
    * that has never checkpointed (full-WAL replay via the first catchUp).
    * No writer lock is taken: replicas coexist with a live writer.
    */
  def bootstrap[V](spark: SparkSession, model: GraphModel[V],
      storeDir: String): GraphReplica[V] = {
    val idx = GraphStore.snapshots(storeDir).lastOption
    val st = idx match {
      case Some(i) => GraphStore.snapshot(spark, model, storeDir, i).checkpointed()
      case None => GraphState.empty(spark, model)
    }
    new GraphReplica(spark, model, storeDir, idx.getOrElse(0L), st)
  }
}
