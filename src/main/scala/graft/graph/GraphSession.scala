package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** The 9-operator session surface of the reference
  * (/root/reference/library/GraphDB/Action.hs:11-21, public wrappers
  * GraphDB.hs:301-356), over immutable DataFrame state.
  *
  * Mutations buffer into an op list (the WAL analog, Persistent/Log.hs:20-28)
  * and are applied as *batched* DataFrame transformations: consecutive ops of
  * the same type collapse into one run. Reads force application of pending
  * ops first — so a session behaves exactly like the reference's sequential
  * transaction while executing O(runs), not O(ops), Spark jobs. Node
  * handles are stable global ids (the reference's tx-local ordinals,
  * Persistent.hs:126-171, are a serialization detail we deliberately
  * replace — documented divergence with identical observable state).
  *
  * A run's cost follows its delta, not the state. NewNode and AddTarget
  * runs append their rows to the tables' driver-held tails and copy no
  * table; an AddTarget run first runs one lookup, a single Spark job over
  * the nodes and edges tables. A driver-issued commit of new nodes and
  * edges between them runs 1 Spark job, that lookup, however large the
  * graph: the WAL batch is written on the driver without a Spark job
  * (graft.store.OpBatchFile). A table materializes only when its tail would
  * pass `GraphState.TailBound` rows, or when a SetValue, RemoveTarget or
  * RemoveNode run changes it (SetValue: nodes and index; the two removes:
  * edges and index) — see [[GraphState.checkpointedSince]]. A point read
  * (getValue, getTargets, targets, sources) and the lookup build no
  * DataFrame: each scans the owning partitions of the tables' keyed bases
  * in place where the driver holds their blocks (every one on `local[N]`:
  * no Spark job) and in one Spark job otherwise, with the tails filtered
  * on the driver, so a read makes no Catalyst pass and compiles no
  * class. Bulk commits
  * (GraphStore.commitBulk) never touch the driver: they stay distributed
  * joins over the whole delta.
  *
  * Applied ops additionally accumulate in a drainable log so a persistent
  * wrapper (graft.store.GraphStore) can append them as WAL batches.
  */
final class GraphSession[V] private (
    val spark: SparkSession,
    val model: GraphModel[V],
    initialState: GraphState[V],
    initialNextId: Long) {

  type NodeId = Long
  import GraphOp._

  private var state: GraphState[V] = initialState
  private val pending = ArrayBuffer[GraphOp[V]]()
  private val opLog = ArrayBuffer[GraphOp[V]]()
  private var nextId: Long = initialNextId

  /** getRoot (op #4, GraphDB.hs:318-319). Root is always node 0. */
  val root: NodeId = 0L

  private def allocate(v: V): NodeId = {
    val id = nextId
    nextId += 1
    pending += NewNode(id, v)
    id
  }

  /** Current id watermark (persisted so restarts keep ids unique). */
  def idWatermark: Long = nextId

  // ---------------------------------------------------------------- writes

  /** newNode (op #1, GraphDB.hs:301-302). Invisible to stats/persistence
    * until linked (GraphDB.hs:296-300).
    */
  def newNode(v: V): NodeId = allocate(v)

  /** setValue (op #3, GraphDB.hs:313-314) — re-indexes incoming edges. */
  def setValue(n: NodeId, v: V): Unit = pending += SetValue(n, v)

  /** addTarget (op #6, GraphDB.hs:335-336) — idempotent. */
  def addTarget(src: NodeId, dst: NodeId): Unit = pending += AddTarget(src, dst)

  /** removeTarget (op #7, GraphDB.hs:343-344). */
  def removeTarget(src: NodeId, dst: NodeId): Unit = pending += RemoveTarget(src, dst)

  /** remove (op #8, GraphDB.hs:348-349) — detach from all sources. */
  def remove(n: NodeId): Unit = pending += RemoveNode(n)

  // ---------------------------------------------------------------- reads

  /** getValue (op #2, GraphDB.hs:306-309). */
  def getValue(n: NodeId): V = applied().getValue(n)

  /** getTargets (op #5, GraphDB.hs:323-327): nodes reachable from `n` via
    * index key `k`, distinct.
    */
  def getTargets(n: NodeId, k: IndexKey): Seq[NodeId] = applied().getTargets(n, k)

  /** Dataset form of getTargets — the composable hop for analytics plans. */
  def targetsDF(n: NodeId, k: IndexKey): DataFrame = applied().targetsDF(n, k)

  /** Distinct targets regardless of key (traverseTargets, Graph.hs:72-77). */
  def targets(n: NodeId): Seq[NodeId] = applied().targets(n)

  /** Sources of a node (traverseSources/getSources, Graph.hs:79-80,135-139). */
  def sources(n: NodeId): Seq[NodeId] = applied().sources(n)

  /** getStats (op #9, GraphDB.hs:355-356): (nodes, edges, index entries)
    * of the closure reachable from `from` (default root).
    */
  def getStats(from: NodeId = root): (Long, Long, Long) = applied().stats(from)

  // ------------------------------------------------------------ state access

  /** Current state with all pending ops applied — entry point for
    * DataFrame-level analytics over the graph.
    */
  def applied(): GraphState[V] = {
    if (pending.nonEmpty) {
      // Collapse consecutive same-type ops into one batch application.
      def sameTypeRuns(ops: Seq[GraphOp[V]]): Seq[Seq[GraphOp[V]]] =
        ops.foldLeft(Vector.empty[Vector[GraphOp[V]]]) {
          case (rs, op) if rs.nonEmpty && rs.last.head.getClass == op.getClass =>
            rs.init :+ (rs.last :+ op)
          case (rs, op) => rs :+ Vector(op)
        }
      // TWO-PHASE COLLAPSE: each AddTarget run below costs a lookup (Spark
      // jobs), so an interleaved [new, add, new, add, …] stretch — the
      // shape a write-shipping poll, a driver-side ingest loop or a WAL
      // replay produces — would pay O(stretch) jobs. When every add of a
      // maximal NewNode+AddTarget stretch references only ids that exist
      // before the stretch or are defined EARLIER in it, applying [all
      // news][all adds] of the stretch is order-equivalent: news only
      // define (never reference), adds only reference (never define) and
      // are idempotent set-inserts, and the dependency check keeps invalid
      // programs invalid (an add naming a not-yet-created id still aborts
      // via the driver-side check). One lookup per stretch instead of
      // O(stretch).
      def collapsed(stretch: Seq[GraphOp[V]]): Seq[Seq[GraphOp[V]]] = {
        val newIds = stretch.collect { case NewNode(id, _) => id }.toSet
        val defined = scala.collection.mutable.Set[Long]()
        val depsOk = stretch.forall {
          case NewNode(id, _) => defined += id; true
          case AddTarget(s, d) => (!newIds(s) || defined(s)) && (!newIds(d) || defined(d))
          case _ => true
        }
        if (!depsOk) sameTypeRuns(stretch)
        else Seq(stretch.filter(_.isInstanceOf[NewNode[_]]),
          stretch.filter(_.isInstanceOf[AddTarget[_]])).filter(_.nonEmpty)
      }
      def appends(op: GraphOp[V]): Boolean = op match {
        case _: NewNode[_] | _: AddTarget[_] => true
        case _ => false
      }
      val runs = ArrayBuffer[Seq[GraphOp[V]]]()
      var rest = pending.toSeq
      while (rest.nonEmpty) {
        val (stretch, afterStretch) = rest.span(appends)
        val (others, next) = afterStretch.span(op => !appends(op))
        runs ++= collapsed(stretch)
        runs ++= sameTypeRuns(others)
        rest = next
      }
      // The whole pending batch applies ATOMICALLY against a local copy:
      // `state` is only advanced after every run succeeded. On a mid-run
      // failure (the in-plan unknown-id guards) the batch ABORTS — the
      // reference's invalid-ref failure aborts the enclosing write txn —
      // so partial runs are discarded with the local copy, nothing reaches
      // the op log / WAL, state stays the pre-batch snapshot, and the
      // session remains usable. (Without this, a retry after the throw
      // would RE-apply the already-applied prefix runs: duplicate node
      // rows, doubled index entries, state/WAL divergence.) Ids allocated
      // by aborted newNodes are burned, never reused — gaps are fine, the
      // reference's tx-local ordinals burn the same way.
      var st = state
      try {
        runs.foreach { run =>
          // settle after EVERY run the tables the run changed: appends
          // stay in the tail up to its bound, any other change
          // materializes — setValue's index derivation references the
          // nodes plan twice, so without truncation the logical plan
          // doubles per run (2^runs blowup in the analyzer); tables a run
          // left alone are not touched
          st = (run.head match {
            case _: NewNode[_] =>
              st.withNewNodes(run.collect { case NewNode(id, v) => (id, v) }.toSeq)
            case _: SetValue[_] =>
              // later SetValue on the same id wins within a run
              st.withValues(GraphOp.keepLastById(
                run.collect { case SetValue(id, v) => (id, v) }.toSeq))
            case _: AddTarget[_] =>
              st.withTargets(run.collect { case AddTarget(s, d) => (s, d) }.toSeq)
            case _: RemoveTarget[_] =>
              st.withoutTargets(run.collect { case RemoveTarget(s, d) => (s, d) }.toSeq)
            case _: RemoveNode[_] =>
              st.withoutNodes(run.collect { case RemoveNode(id) => id }.toSeq)
          }).checkpointedSince(st)
        }
      } catch {
        case e: Throwable =>
          pending.clear() // abort the batch: discard ITS ops, not the session
          // the in-plan setValue guard (GraphState raise_error) fires
          // during the checkpoint's materialization as a wrapped
          // SparkException — translate back to the session contract's
          // typed error (addTarget's driver-side check already throws it)
          GraphSession.unknownIdMessage(e) match {
            case Some(msg) => throw new IllegalArgumentException(msg, e)
            case None => throw e
          }
      }
      state = st
      opLog ++= pending
      pending.clear()
    }
    state
  }

  /** Apply a bulk edge delta (DataFrame, fully distributed) — the ingest
    * path of GraphStore.commitBulk. Pending driver-side ops flush first so
    * WAL order is preserved; the delta itself bypasses the op log (the
    * store writes its WAL batch directly from the cluster).
    */
  private[graft] def applyBulkTargets(delta: org.apache.spark.sql.DataFrame): Unit = {
    applied()
    state = state.withTargetsDF(delta).checkpointedSince(state)
  }

  /** Replay a logged op verbatim — ids are preserved (not re-allocated),
    * and the id watermark advances past any replayed node id.
    */
  private[graft] def replayOp(op: GraphOp[V]): Unit = {
    op match {
      case NewNode(id, _) => nextId = math.max(nextId, id + 1)
      case _ => ()
    }
    pending += op
  }

  /** Drain ops applied since the last drain — the WAL append feed. */
  private[graft] def drainLog(): Seq[GraphOp[V]] = {
    val out = peekLog()
    opLog.clear()
    out
  }

  /** Apply pending ops and return the undrained log WITHOUT clearing it —
    * the commit path peeks, validates, writes the WAL batch, and only then
    * [[clearLog]]s, so a failed validation or write never loses ops.
    */
  private[graft] def peekLog(): Seq[GraphOp[V]] = {
    applied()
    opLog.toSeq
  }

  /** Acknowledge a successfully persisted [[peekLog]] batch. */
  private[graft] def clearLog(): Unit = opLog.clear()
}

object GraphSession {

  /** Extract the in-plan setValue guard's message from a wrapped Spark
    * failure (searches a bounded cause chain).
    */
  private def unknownIdMessage(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(t => Option(t.getMessage).getOrElse(""))
      .find(_.contains("unknown node id"))

  /** In-memory session with an initial root value — the analog of
    * `runNonpersistentSession` (GraphDB.hs:128-131).
    */
  def inMemory[V](spark: SparkSession, model: GraphModel[V], rootValue: V): GraphSession[V] = {
    val s = new GraphSession(spark, model, GraphState.empty(spark, model), 0L)
    val id = s.allocate(rootValue)
    require(id == 0L)
    // establish the root EAGERLY: the reference's runSession provides the
    // root before any user txn, and our batch-abort semantics must never
    // be able to discard it (a failing first batch would otherwise roll
    // the pending root back with it). The op stays in the drainable log,
    // so persistent wrappers still WAL it on first commit.
    s.applied()
    s
  }

  /** Resume from existing state (checkpoint restore) — the root already
    * exists, ids continue from the persisted watermark.
    */
  private[graft] def fromState[V](spark: SparkSession, model: GraphModel[V],
      state: GraphState[V], nextId: Long): GraphSession[V] =
    new GraphSession(spark, model, state, nextId)
}
