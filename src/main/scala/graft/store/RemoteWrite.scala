package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable
import scala.util.Try

import graft.graph._

/** Write shipping — the Spark-suitable analog of the reference's
  * client/server WRITE path (/root/reference/library/GraphDB/Server.hs:17-94,
  * Client.hs:53-117, Protocol.hs:8-43). The reference accepts socket
  * connections and executes each client's shipped transaction inside a real
  * local txn on a dedicated worker. Here a txn (its op rows and meta)
  * reaches one write core ([[applyTxns]]) by one of two transports: a
  * socket frame ([[Wire]]), or a shared filesystem inbox — the natural
  * medium on a Spark deployment, where "clients" are other jobs sharing
  * distributed storage:
  *
  * {{{
  *   <inbox>/<clientId>-<seq>.txn/     one shipped transaction (parquet ops,
  *                                     same row format as the WAL, + _meta.json)
  *   <inbox>/acks/<txnId>.json         the server's response ("reply" leg)
  *   <inbox>/applied/<txnId>.txn/      archive of executed transactions
  * }}}
  *
  * Protocol semantics mirrored from the reference:
  *  - '''tx-local refs''': a shipped `newNode` cannot know its global id, so
  *    it carries a NEGATIVE ordinal (−1, −2, …) that later ops in the same
  *    txn reference — exactly the reference's tx-local ordinal scheme
  *    (Persistent.hs:126-171); the server resolves ordinals to fresh global
  *    ids at apply time and returns the mapping in the ack (the response
  *    round-trip of Client.hs:71-117).
  *  - '''atomicity''': a txn is validated structurally before ANY op is
  *    applied; a refused txn (bad ref, oversized, undecodable) changes no
  *    state and gets a refused ack.
  *  - '''version handshake''': each txn carries the client's format version;
  *    a mismatch is refused, not half-applied — the `ClientFailure`
  *    handshake (GraphDB.hs:169-174, 184-208).
  *  - '''single-writer discipline''': only the store owner applies txns, so
  *    the reference's exclusive write lock (Nonpersistent.hs:51-56) maps to
  *    the store's dir lock; per-client FIFO order is guaranteed by the seq
  *    in the dir name, cross-client order is arbitrary-but-deterministic
  *    (lexicographic), matching concurrent-txn semantics.
  *
  * Durability trade (documented, same family as the reference's buffered
  * WAL): the ack is written AFTER the txn's WAL batch is durable, so a
  * server crash in the tiny window between commit and ack re-applies that
  * txn on the next poll — at-least-once in the crash window, exactly-once
  * otherwise (an acked txn dir found still in the inbox is moved to the
  * archive without re-applying).
  *
  * Scale posture: txns are driver-sized by construction (a remote client
  * ships a monadic program, not a dataset — the reference's txns are the
  * same); bulk data belongs to [[GraphStore.commitBulk]]. An oversized txn
  * is refused with a typed ack, not collected.
  */
object RemoteWrite {

  /** Server response for one shipped transaction — the Protocol.hs response
    * leg. `assigned` maps the client's tx-local negative ordinals to the
    * global ids the server allocated.
    */
  final case class TxnAck(txnId: String, applied: Boolean,
      assigned: Map[Long, Long], error: Option[String])

  /** Fail-stop signal: a txn failed AFTER its first session mutation. No
    * ack is written (the txn stays in the inbox); the store owner must
    * reopen the store (WAL-prefix recovery) before serving again — a
    * refusal ack here would lie, because the partial txn's ops sit in the
    * session op log and a later commit would persist them.
    */
  final class ApplyFailedException(val txnId: String, cause: Throwable)
    extends IllegalStateException(
      s"write-shipping apply failed mid-txn $txnId; the session may hold a " +
        "partial txn — reopen the store to recover (the WAL holds only " +
        "complete, acked txns)", cause)

  private[store] val MetaName = "_meta.json"

  private[store] def ackJson(a: TxnAck): String = {
    val assigned = a.assigned.toSeq.sortBy(_._1)
      .map { case (l, g) => s""""$l": $g""" }.mkString("{", ", ", "}")
    val err = a.error.fold("null")(e => "\"" + GraphStore.esc(e) + "\"")
    s"""{"txnId": "${a.txnId}", "applied": ${a.applied}, "assigned": $assigned, "error": $err}"""
  }

  private[store] def parseAck(json: String): TxnAck = {
    val txnId = GraphStore.jsonField(json, "txnId").getOrElse("")
    val applied = GraphStore.jsonField(json, "applied").contains("true")
    val assigned = """"(-\d+)":\s*(\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1).toLong -> m.group(2).toLong).toMap
    val error = GraphStore.jsonField(json, "error")
    TxnAck(txnId, applied, assigned, error)
  }

  // ------------------------------------------------------------- client side

  /** Snapshot reads an open [[RemoteTxn]] overlays its pending ops on —
    * the base leg of read-your-uncommitted-writes. Adapters below wrap the
    * existing read surfaces; `getValue` is total (None for unknown ids).
    *
    * `mark` is the snapshot's WAL-coverage stamp (GraphReplica.watermark,
    * captured ONCE at construction — conservative: reads can only observe
    * newer state, so conflict-checking against the construction-time mark
    * never misses a conflict). `None` (legacy adapters) disables the
    * apply-time staleness check — the txn applies optimistically, the
    * pre-r16 behavior.
    */
  trait TxnReads[V] {
    def getValue(n: Long): Option[V]
    def targets(n: Long): Seq[Long]
    def mark: Option[(Long, Long)] = None
  }

  object TxnReads {
    /** Mid-txn reads against a thin read client, over either transport
      * (the inbox's [[RemoteRead.Client]] or [[Wire.ReadClient]]). Fetches
      * the serving replica's watermark once, up front, as the snapshot
      * stamp.
      */
    def fromRemoteRead[V](c: RemoteRead.Reader[V]): TxnReads[V] = {
      val m = c.watermark()
      new TxnReads[V] {
        def getValue(n: Long): Option[V] = c.getValues(Seq(n)).get(n)
        def targets(n: Long): Seq[Long] = c.targets(n)
        override def mark: Option[(Long, Long)] = Some(m)
      }
    }

    /** Mid-txn reads against a local follower replica. */
    def fromReplica[V](r: GraphReplica[V]): TxnReads[V] = {
      val m = r.watermark
      new TxnReads[V] {
        def getValue(n: Long): Option[V] = r.getValues(Seq(n)).get(n)
        def targets(n: Long): Seq[Long] = r.targets(n)
        override def mark: Option[(Long, Long)] = Some(m)
      }
    }
  }

  /** Transaction builder — the client-side action DSL (Client.hs:53-60).
    * `newNode` returns a tx-local NEGATIVE ref usable by later ops in this
    * txn; ids ≥ 0 reference globally-known nodes (the root is 0; others come
    * from prior acks or replica reads — the same "handles you got from the
    * server" contract the reference's typed client enforces).
    *
    * INTERACTIVE MID-TXN READS ([[getValue]]/[[targets]]): the reference's
    * client holds its write transaction open over the socket and
    * interleaves reads that see its own uncommitted state
    * (Server.hs:17-69, Client.hs:71-117 — under the held write lock).
    * Here the same read-your-uncommitted-writes semantics come from
    * OVERLAYING this txn's pending ops (in op order) on a snapshot
    * ([[TxnReads]]) — no lock is held across the wire. Under the
    * single-writer discipline the group-commit server enforces, a
    * caught-up snapshot makes these reads exactly what the reference's
    * lock-holding reads return. With concurrent writers the reads are
    * VALIDATED AT APPLY TIME instead of locked: the txn ships its
    * snapshot's WAL mark plus the ids it read, and the server refuses
    * with a typed stale-read conflict if any of them was mutated by a
    * later-committed txn (see applyOne) — optimistic concurrency where
    * the reference holds a lock, with the lost-update shape turned from
    * a silent apply into a retry signal.
    */
  final class RemoteTxn[V] private[store] (
      reads: Option[TxnReads[V]] = None) {
    private[store] val ops = mutable.ArrayBuffer[GraphOp[V]]()
    private val defined = mutable.Set[Long]()
    private var locals = 0
    // global ids whose SNAPSHOT state this txn's reads depended on —
    // shipped with the txn (plus the snapshot's WAL mark) so the server
    // can refuse at apply time if any of them was mutated by a
    // later-committed txn: the lock-free stand-in for the reference's
    // reads-under-the-held-write-lock serializability (GraphDB.hs:288-289)
    private[store] val valueReads = mutable.Set[Long]()
    private[store] val targetReads = mutable.Set[Long]()
    // members the snapshot ANSWERED for targets reads: a later-committed
    // RemoveNode(m) changes a targets(src) result only when m was in the
    // observed list (removals strip incoming edges) — shipping the
    // observed members lets the server conflict-check removals precisely
    // instead of refusing on ANY removal after the mark
    private[store] val targetMembers = mutable.Set[Long]()

    /** (snapshot mark, value-read ids, targets-read ids, observed
      * members) when this txn performed snapshot-dependent reads against
      * a stamped snapshot.
      */
    private[store] def readsInfo
        : Option[((Long, Long), Set[Long], Set[Long], Set[Long])] =
      reads.flatMap(_.mark)
        .map(m => (m, valueReads.toSet, targetReads.toSet, targetMembers.toSet))
        .filter { case (_, v, t, _) => v.nonEmpty || t.nonEmpty }

    private def checkRef(x: Long, what: String): Unit =
      require(x >= 0 || defined(x),
        s"$what references undefined tx-local ref $x — refs must come from " +
          "this txn's newNode (negative) or be global ids (non-negative)")

    def newNode(v: V): Long = {
      locals += 1
      val ref = -locals.toLong
      defined += ref
      ops += GraphOp.NewNode(ref, v)
      ref
    }
    def setValue(n: Long, v: V): Unit = {
      checkRef(n, "setValue"); ops += GraphOp.SetValue(n, v)
    }
    def addTarget(src: Long, dst: Long): Unit = {
      checkRef(src, "addTarget src"); checkRef(dst, "addTarget dst")
      ops += GraphOp.AddTarget(src, dst)
    }
    def removeTarget(src: Long, dst: Long): Unit = {
      checkRef(src, "removeTarget src"); checkRef(dst, "removeTarget dst")
      ops += GraphOp.RemoveTarget(src, dst)
    }
    def remove(n: Long): Unit = {
      checkRef(n, "remove"); ops += GraphOp.RemoveNode(n)
    }

    /** The value `n` would have if this txn committed now: the latest
      * NewNode/SetValue in THIS txn wins; otherwise the snapshot answers.
      * Throws NoSuchElementException like the session's getValue.
      *
      * LAZY-REMOVE PARITY: a RemoveNode does NOT hide the value here,
      * because it does not hide it on the server either —
      * GraphState.withoutNodes strips only INCOMING edges and index
      * entries; the value row (and outgoing edges) survive until vacuum,
      * so committed-state getValue(removed) still answers. The overlay
      * reproduces exactly that, keeping "caught-up snapshot ⇒ reads equal
      * committed-state reads" true for the remove case too (spec-pinned
      * against a post-commit replica read).
      */
    def getValue(n: Long): V = {
      checkRef(n, "getValue")
      val local = ops.reverseIterator.collectFirst {
        case GraphOp.NewNode(r, v) if r == n => v
        case GraphOp.SetValue(m, v) if m == n => v
      }
      local.getOrElse {
        // the answer depends on the SNAPSHOT (no local override) — record
        // the dependency for the apply-time staleness check
        if (n >= 0 && reads.isDefined) valueReads += n
        reads.flatMap(_.getValue(n)).getOrElse(
          throw new NoSuchElementException(
            if (reads.isEmpty)
              s"unknown node $n (no snapshot attached — use submitWithReads)"
            else s"unknown node $n"))
      }
    }

    /** The targets `src` would have if this txn committed now: snapshot
      * edges (tx-local refs start empty) with this txn's add/remove ops
      * replayed in order. Removing a node hides it from every OTHER
      * node's list but keeps its own outgoing list readable — the
      * server's lazy-remove semantics (GraphState.withoutNodes strips
      * incoming edges only; outgoing rows survive until vacuum).
      */
    def targets(src: Long): Seq[Long] = {
      checkRef(src, "targets")
      if (src >= 0 && reads.isDefined) targetReads += src
      val base =
        if (src >= 0) reads.map(_.targets(src).toVector).getOrElse(Vector.empty)
        else Vector.empty
      if (src >= 0 && reads.isDefined) targetMembers ++= base
      ops.foldLeft(base) { (acc, op) =>
        op match {
          case GraphOp.AddTarget(s, d) if s == src =>
            if (acc.contains(d)) acc else acc :+ d
          case GraphOp.RemoveTarget(s, d) if s == src => acc.filterNot(_ == d)
          case GraphOp.RemoveNode(m) if m == src => acc // lazy remove: outgoing kept
          case GraphOp.RemoveNode(m) => acc.filterNot(_ == m)
          case _ => acc
        }
      }
    }
  }

  /** Builds transactions and ships each one, as its op rows and meta,
    * through the transport a subclass supplies: the txn building both
    * transports share. `clientId` namespaces txn ids (`clientId-seq`),
    * numbered from `firstSeq`.
    */
  abstract class Writer[V](model: GraphModel[V], clientId: String, firstSeq: Long) {
    require(clientId.matches("[A-Za-z0-9_-]+"),
      s"clientId '$clientId' must be [A-Za-z0-9_-]+ (it names txns)")
    private var seq = firstSeq

    /** Send txn `txnId`: its op rows ([[GraphStore.opSchema]]) and meta JSON. */
    protected def ship(txnId: String, rows: Seq[Row], meta: String): Unit

    /** Non-blocking ack poll. */
    def ack(txnId: String): Option[TxnAck]

    /** Block until the server acks `txnId` — the synchronous round-trip the
      * reference's client performs per action (Client.hs:71-117); ours is
      * per-txn, which is strictly fewer round-trips.
      */
    def await(txnId: String, timeoutMs: Long = 30000L): TxnAck

    /** Ship one transaction; returns its txnId. */
    def submit(build: RemoteTxn[V] => Unit): String =
      submitTxn(new RemoteTxn[V](), build)

    /** [[submit]] with a snapshot attached: the builder can interleave
      * [[RemoteTxn.getValue]]/[[RemoteTxn.targets]] reads that see this
      * txn's own uncommitted ops overlaid on `reads` — the reference
      * client's mid-transaction read-then-branch pattern
      * (Client.hs:71-117), without its held write lock.
      */
    def submitWithReads(reads: TxnReads[V])(build: RemoteTxn[V] => Unit): String =
      submitTxn(new RemoteTxn[V](Some(reads)), build)

    private def submitTxn(txn: RemoteTxn[V],
        build: RemoteTxn[V] => Unit): String = {
      build(txn)
      require(txn.ops.nonEmpty, "empty transaction")
      // the server orders txns lexicographically by dir name; a seq wider
      // than the zero-padding would sort BEFORE 999999 and break FIFO —
      // enforce the bound instead of silently reordering
      require(seq < 1000000L,
        s"client '$clientId' exceeded 10^6 shipped txns; use a new clientId")
      val rows = txn.ops.toSeq.zipWithIndex.map { case (op, i) =>
        GraphStore.opToRow(model, op, i.toLong)
      }
      // snapshot-read dependencies ride the txn meta so the server can
      // conflict-check at apply time; bounded — interactive reads are
      // handfuls, and an unbounded list would be driver/meta pressure
      val readsJson = txn.readsInfo.map { case ((me, mb), vr, tr, tm) =>
        require(vr.size + tr.size + tm.size <= 10000,
          s"txn read ${vr.size + tr.size + tm.size} distinct nodes; the " +
            "stale-read check ships read ids in the txn meta and caps them " +
            "at 10000")
        s""", "readMark": [$me, $mb]""" +
          s""", "valueReads": [${vr.toSeq.sorted.mkString(", ")}]""" +
          s""", "targetReads": [${tr.toSeq.sorted.mkString(", ")}]""" +
          s""", "targetMembers": [${tm.toSeq.sorted.mkString(", ")}]"""
      }.getOrElse("")
      val txnId = f"$clientId-$seq%06d"
      // a txn that fails to ship burns its id: a server that applied it
      // before failing must never answer a later txn with its recorded ack
      seq += 1
      ship(txnId, rows,
        s"""{"formatVersion": ${GraphStore.FormatVersion}, "txnId": "$txnId", "ops": ${txn.ops.size}$readsJson}""")
      txnId
    }
  }

  /** Inbox write client: publishes each txn as a dir in the inbox and
    * polls the inbox's acks. One instance per logical client; a restarted
    * client resumes after its highest shipped seq (scanning inbox +
    * archive + acks), so ids never collide.
    */
  final class Client[V](spark: SparkSession, model: GraphModel[V],
      inboxDir: String, clientId: String)
      extends Writer[V](model, clientId, GraphStore.nextSeq(clientId,
        Seq("", "acks", "applied").map(Paths.get(inboxDir).resolve))) {
    private val inbox = Paths.get(inboxDir)
    Files.createDirectories(inbox)

    /** Published atomically: ops parquet (one file written on this
      * driver, no Spark job: [[OpBatchFile]]) + meta land in a staging
      * dir, then one rename — a reader (the server) sees the whole txn or
      * nothing, the same staged-publish rule as the WAL
      * (GraphStore.writeWalBatch).
      */
    protected def ship(txnId: String, rows: Seq[Row], meta: String): Unit = {
      val staging = inbox.resolve("_staging").resolve(s"$txnId.txn")
      val target = inbox.resolve(s"$txnId.txn")
      GraphStore.deleteRecursively(staging)
      try {
        OpBatchFile.write(spark, GraphStore.opSchema(model), rows, staging)
        Files.writeString(staging.resolve(MetaName), meta)
        Files.createDirectories(target.getParent)
        Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable => GraphStore.deleteRecursively(staging); throw e
      }
    }

    def ack(txnId: String): Option[TxnAck] = {
      val f = inbox.resolve("acks").resolve(s"$txnId.json")
      if (Files.exists(f)) Some(parseAck(Files.readString(f))) else None
    }

    def await(txnId: String, timeoutMs: Long): TxnAck = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var a = ack(txnId)
      while (a.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(10L); a = ack(txnId)
      }
      a.getOrElse(throw new java.util.concurrent.TimeoutException(
        s"no ack for $txnId within ${timeoutMs}ms"))
    }
  }

  // ------------------------------------------------------------- server side

  /** A deterministic poison pill (a txn that fail-stops the serve loop
    * every time it is retried) gets this many apply attempts before it is
    * QUARANTINED: moved aside with a refused ack so the serve loop stays
    * live — the reference server refuses bad client txns with
    * `ClientFailure` without dying (Server.hs:17-69); fail-stopping forever
    * on one bad txn would be a liveness DoS the reference doesn't have.
    * 2 = one retry after the first recovery (transient faults get a second
    * chance; deterministic ones don't loop).
    */
  val MaxApplyAttempts: Int = 2

  /** Apply every committed, un-acked transaction in `inboxDir` to the open
    * store — the server's worker loop body (Server.hs:17-69). Returns the
    * acks of this poll, in apply order. Call in a loop (or from a
    * scheduler) to serve continuously; [[serveWhile]] wraps exactly that.
    *
    * The inbox is this wrapper's alone: it lists the published txn dirs,
    * archives the ones already acked (the ack is written after commit, so
    * acked means applied), quarantines repeat poison pills, and hands the
    * rest to [[applyTxns]], writing each final ack file and archiving its
    * dir as the core reports it. Each txn dir is read on the driver
    * ([[OpBatchFile.read]], no Spark job), so a poll finding N txns runs
    * one existence check, the commits' lookups and O(N/groupOps)
    * publishes, not O(N).
    */
  def applyPending[V](store: GraphStore[V], inboxDir: String): Seq[TxnAck] = {
    val inbox = Paths.get(inboxDir)
    val acksDir = inbox.resolve("acks")
    val appliedDir = inbox.resolve("applied")
    val failedDir = inbox.resolve(FailedDirName)
    Files.createDirectories(acksDir)
    Files.createDirectories(appliedDir)

    def txnIdOf(dir: Path) = dir.getFileName.toString.stripSuffix(".txn")
    val (done, pending) = GraphStore.listPaths(inbox)
      .filter(p => p.getFileName.toString.endsWith(".txn"))
      // _SUCCESS (the batch's commit marker) + _meta.json are both inside the
      // atomically-renamed dir: present ⇔ fully published; anything else is
      // a foreign partial write — skip, never delete (it's not ours)
      .filter(p => Files.exists(p.resolve("_SUCCESS")) &&
        Files.exists(p.resolve(MetaName)))
      .sortBy(_.getFileName.toString)
      .partition(dir => Files.exists(acksDir.resolve(s"${txnIdOf(dir)}.json")))
    // crash-window recovery leg 1: acked means applied — archive without
    // re-applying. Clear any stale failure strike too (best-effort,
    // non-throwing: the txn is done; this leg is also the backstop for a
    // swallowed delete failure on the apply path)
    done.foreach { dir =>
      archive(dir, appliedDir)
      Try(Files.deleteIfExists(failedDir.resolve(txnIdOf(dir))))
    }

    val dirs = pending.map(dir => txnIdOf(dir) -> dir).toMap
    val strikes = dirs.keys.map(id => id -> failCount(inbox, id))
      .filter(_._2 >= MaxApplyAttempts).toMap
    val schema = GraphStore.opSchema(store.modelOf)
    // the meta string read here rides along to applyOne — the stale-read
    // conflict check parses it from THIS read, so an IO error at apply
    // time can never silently skip the check (fail-closed: a read failure
    // here is refused by the version gate)
    val txns = pending.map { dir =>
      val txnId = txnIdOf(dir)
      new Shipped[V](txnId, Try(Files.readString(dir.resolve(MetaName))).getOrElse(""),
        strikes.get(txnId) match {
          case Some(n) => Left(s"quarantined after $n mid-apply failures; txn moved to " +
            "quarantined/ for inspection — a deterministic apply failure " +
            "must not wedge the serve loop")
          case None => decode(store, OpBatchFile.read(store.sparkOf, Some(schema), dir, _))
        })
    }

    def acked(ack: TxnAck): Unit = {
      GraphStore.writeJsonAtomic(acksDir.resolve(s"${ack.txnId}.json"), ackJson(ack))
      // a final ack makes any failure strike stale: a txn that fail-stopped
      // once transiently and then succeeded must not carry that strike
      // toward quarantine forever. Best-effort and NON-throwing: the txn is
      // done, so a transient FS error here must not become a NEW strike
      Try(Files.deleteIfExists(failedDir.resolve(ack.txnId)))
      archive(dirs(ack.txnId),
        if (strikes.contains(ack.txnId)) inbox.resolve("quarantined") else appliedDir)
    }
    // a single-member failure is attributable and strikes that txn toward
    // quarantine. A multi-member flush failure is not: instead of striking
    // innocents, a poll-level marker forces the NEXT poll into per-txn
    // flushes, where a deterministic commit-time pill fails ALONE, strikes
    // individually and quarantines after the usual [[MaxApplyAttempts]]
    // while every innocent member commits
    def failed(txnIds: Seq[String]): Unit =
      if (txnIds.size == 1) recordFailure(inbox, txnIds.head)
      else Try {
        Files.createDirectories(failedDir)
        Files.writeString(failedDir.resolve(FlushFailedMarker), "1")
      }

    val perTxnMode = Files.exists(failedDir.resolve(FlushFailedMarker))
    val acks = applyTxns(store, txns, if (perTxnMode) 0 else GroupCommitMaxOps,
      acked, failed)
    // every flush of this poll landed: the per-txn degradation (if any) did
    // its job — the next poll group-commits again
    if (perTxnMode && txns.nonEmpty)
      Try(Files.deleteIfExists(failedDir.resolve(FlushFailedMarker)))
    acks
  }

  /** Apply one txn received in memory (a [[Wire]] write frame): its meta
    * JSON and its op rows as one [[OpBatchFile.encode]] payload. Returns
    * its final ack; a fail-stop throws as in [[applyPending]].
    */
  private[store] def applyFrame[V](store: GraphStore[V], meta: String,
      ops: Array[Byte]): TxnAck = {
    val txnId = GraphStore.jsonField(meta, "txnId")
      .filter(_.matches("[A-Za-z0-9_-]+"))
      .getOrElse(throw new IllegalArgumentException("txn meta has no valid txnId"))
    val schema = GraphStore.opSchema(store.modelOf)
    val txn = new Shipped[V](txnId, meta,
      decode(store, OpBatchFile.decode(store.sparkOf, Some(schema), ops, _)))
    applyTxns(store, Seq(txn), GroupCommitMaxOps, _ => (), _ => ()).head
  }

  /** One shipped txn as the server received it: its id, its meta JSON and
    * its ops, decoded only once the txn passes triage (`Left` is the
    * refusal message).
    */
  private final class Shipped[V](val txnId: String, val meta: String,
      decoded: => Either[String, Seq[GraphOp[V]]]) {
    lazy val ops: Either[String, Seq[GraphOp[V]]] = decoded
  }

  /** The write core every transport calls: apply `txns`, in order, to the
    * open store. Returns their acks in apply order.
    *
    *  1. Triage on the driver, no Spark job: a txn whose id is tagged in
    *     the WAL (applied, its ack lost in the crash window) replays its
    *     RECORDED ack, and a format version other than the server's is
    *     refused.
    *  1. The rest are decoded, and all their global refs are
    *     existence-checked in ONE point read (a Spark job only over base
    *     partitions whose blocks the driver does not hold).
    *  1. Each is applied by [[applyOne]]; applied txns are made durable by
    *     ONE group-committed WAL batch per `flushBound` ops, tagged with
    *     every member's ack.
    *
    * `acked` receives each final ack: a refusal or a replay at once, an
    * applied txn's only after its WAL batch is durable. On a fail-stop,
    * `failed` receives the txns it is attributable to (the one that failed
    * mid-apply, or every member of the failed flush) before
    * [[ApplyFailedException]] is thrown.
    */
  private def applyTxns[V](store: GraphStore[V], txns: Seq[Shipped[V]], flushBound: Int,
      acked: TxnAck => Unit, failed: Seq[String] => Unit): Seq[TxnAck] = {
    // the fail-stop is mechanical, not advisory: after a mid-txn failure
    // the session may hold a partial txn, and applying again would apply
    // that txn's ops a SECOND time — refuse until the store is reopened
    if (store.remoteApplyPoisoned) throw new IllegalStateException(
      "a previous shipped txn failed mid-apply; reopen the store " +
        "(WAL-prefix recovery) before serving again")
    val acks = mutable.ArrayBuffer[TxnAck]()
    def settle(ack: TxnAck): Unit = { acked(ack); acks += ack }
    val todo = txns.filter { txn =>
      store.txnTag(txn.txnId) match {
        case Some(recorded) =>
          // crash-window recovery leg 2: the txn's WAL batch is durable and
          // carries its ack as the batch tag (GraphStore.commitTagged), but
          // the crash hit between drain and ack. Re-applying would mint
          // FRESH global ids for the same newNodes — a duplicated subgraph
          // reachable from root — so replay the recorded ack: the client
          // sees the mapping of the application that is actually durable.
          // Exactly-once restored across the window.
          settle(parseAck(recorded))
          false
        case None =>
          val version = GraphStore.jsonField(txn.meta, "formatVersion")
            .flatMap(v => Try(v.toInt).toOption).getOrElse(-1)
          if (version != GraphStore.FormatVersion) {
            settle(TxnAck(txn.txnId, applied = false, Map.empty, Some(
              s"incompatible format version $version; server speaks " +
                s"${GraphStore.FormatVersion} — the ClientFailure handshake refusal")))
            false
          } else true
      }
    }
    if (todo.isEmpty) return acks.toSeq

    // one existence-check read for ALL global refs; ids created/removed by
    // earlier txns of this call are tracked driver-side (the server itself
    // assigns/resolves them), so per-txn validation needs no further reads
    val allGlobals = todo.flatMap(_.ops.toOption).flatten
      .flatMap(refsOf).filter(_ >= 0).distinct
    val existsAtStart: Set[Long] =
      store.session.applied().getValues(allGlobals).keySet
    val createdThisPoll = mutable.Set[Long]()
    val removedThisPoll = mutable.Set[Long]()
    // ids mutated by txns applied EARLIER IN THIS POLL (their WAL batch is
    // not yet flushed, so mutatedSince cannot see them) — the intra-poll
    // leg of the stale-read conflict check
    val mutatedThisPoll = mutable.Set[Long]()
    // one WAL-suffix scan per distinct snapshot mark per poll
    val mutatedSinceCache =
      mutable.Map[(Long, Long), Either[String, (Set[Long], Set[Long])]]()

    // GROUP COMMIT: applied txns' ops accumulate uncommitted in the session
    // op log; one commitTaggedAll per group publishes ONE WAL batch carrying
    // every member's ack tag (batch-durable ⟺ every ack recoverable —
    // recovery leg 2 parses the tags per line). Acks are final only AFTER
    // the drain barrier, so no client is ever told "applied" before the WAL
    // has it. This turns the write path's measured bottleneck (one parquet
    // publish per txn, SERVE_r10.json) into one publish per call; groups
    // are capped at `flushBound` session ops so a huge poll flushes in
    // bounded driver-memory chunks. Refusals mutate nothing and are
    // deterministic, so they are final at once, outside the group.
    val group = mutable.ArrayBuffer[TxnAck]()
    var groupOps = 0
    def flushGroup(): Unit = if (group.nonEmpty) {
      try {
        store.commitTaggedAll(group.map(ackJson).toSeq)
        // a BUFFERED store acknowledges commit() at enqueue; the acks'
        // durable-after-WAL promise requires the drain barrier (no-op on an
        // unbuffered store) — otherwise a crash could lose txns the clients
        // were told were applied
        store.drain()
      } catch {
        case scala.util.control.NonFatal(e) =>
          // a failed group flush leaves COMPLETE txns' ops in the session
          // log uncommitted — applying again would apply them a SECOND time
          // on top of the first application's ops, so fail-stop exactly as
          // a mid-apply throw does (reopen = WAL-prefix recovery = rollback,
          // the next call re-applies; no ack was final, exactly-once holds)
          store.remoteApplyPoisoned = true
          failed(group.map(_.txnId).toSeq)
          throw new ApplyFailedException(group.head.txnId, e)
      }
      group.foreach { ack =>
        store.recordTxnTag(ack.txnId, ackJson(ack))
        acked(ack)
      }
      group.clear()
      groupOps = 0
    }
    todo.foreach { txn =>
      val ack = applyOne(store, txn.txnId, txn.meta, txn.ops,
        existsAtStart, createdThisPoll, removedThisPoll,
        mutatedThisPoll, mutatedSinceCache, failed)
      if (ack.applied) {
        group += ack
        acks += ack
        groupOps += txn.ops.toOption.map(_.size).getOrElse(0)
        if (groupOps >= flushBound) flushGroup()
      } else settle(ack)
    }
    flushGroup()
    acks.toSeq
  }

  /** Session-op cap per group-commit flush: bounds the size of the single
    * WAL batch a poll publishes (driver-built, one partition — the same
    * driver-memory contract as the replay bound). A var only as a chunking
    * test seam.
    */
  private[graft] var GroupCommitMaxOps: Int = 100000

  /** Serve loop: poll-and-apply every `pollMs` until `keepGoing` turns
    * false. The minimal continuous server — a caller owning the store runs
    * this on a side thread, exactly the reference's accept-loop shape.
    *
    * Thread discipline: while this loop runs, the serving thread IS the
    * store's writer — the owner must not mutate the session from another
    * thread concurrently (GraphSession is single-writer by design, the
    * same exclusive write lock the reference takes per txn,
    * Nonpersistent.hs:51-56). Pause the loop (keepGoing → false, rejoin)
    * around owner-side writes, or route them through a [[Client]].
    */
  def serveWhile[V](store: GraphStore[V], inboxDir: String, pollMs: Long = 50L)(
      keepGoing: () => Boolean): Unit =
    while (keepGoing()) {
      applyPending(store, inboxDir)
      Thread.sleep(pollMs)
    }

  private val FailedDirName = "_failed"

  /** Poll-level marker under [[FailedDirName]]: a multi-member group flush
    * failed, guilty member unknown — the next poll flushes per-txn to
    * attribute it. Cannot collide with a txn strike file: txnIds are
    * `<clientId>-<seq>` and this name carries no `-<seq>` suffix.
    */
  private val FlushFailedMarker = "_flush"

  /** Mid-apply failure count for a txn — durable across store reopens
    * (markers live in the inbox, not the store), feeding the quarantine
    * threshold [[MaxApplyAttempts]].
    */
  private def failCount(inbox: Path, txnId: String): Int =
    Try(Files.readString(inbox.resolve(FailedDirName).resolve(txnId)).trim.toInt)
      .getOrElse(0)

  private def recordFailure(inbox: Path, txnId: String): Unit = {
    val d = inbox.resolve(FailedDirName)
    Files.createDirectories(d)
    Files.writeString(d.resolve(txnId), (failCount(inbox, txnId) + 1).toString)
  }

  /** Node ids an op REFERENCES (newNode defines, it doesn't reference). */
  private def refsOf[V](op: GraphOp[V]): Seq[Long] = op match {
    case GraphOp.NewNode(_, _) => Seq.empty
    case GraphOp.SetValue(id, _) => Seq(id)
    case GraphOp.AddTarget(s, d) => Seq(s, d)
    case GraphOp.RemoveTarget(s, d) => Seq(s, d)
    case GraphOp.RemoveNode(id) => Seq(id)
  }

  /** Decode one txn's op rows, read by `read(limit)`: rows that fail to
    * read (corrupt file, foreign schema) or more than the driver bound are
    * that txn's typed refusal (`Left`) and never its neighbours'; `Right`
    * holds the ops in seq order.
    */
  private def decode[V](store: GraphStore[V], read: Int => Seq[Row])
      : Either[String, Seq[GraphOp[V]]] = {
    val bound = GraphStore.maxReplayBatchRows
    def undecodable(e: Throwable) =
      s"undecodable txn: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
    Try(read(bound + 1)).toEither.left.map(undecodable).flatMap { rows =>
      if (rows.length > bound)
        Left(s"txn exceeds $bound ops; shipped txns are driver-sized by " +
          "contract — use commitBulk for bulk ingest")
      else Try(rows.sortBy(_.getLong(0)).map(r => GraphStore.rowToOp(store.modelOf, r)))
        .toEither.left.map(undecodable)
    }
  }

  /** Parse the optional snapshot-read stamp out of a shipped txn's meta:
    * (mark, value-read ids, targets-read ids, observed target members).
    * Absent for txns built without reads (or against an unstamped
    * snapshot) — those apply optimistically, the pre-r16 contract.
    */
  private[store] def parseReadInfo(meta: String)
      : Option[((Long, Long), Set[Long], Set[Long], Set[Long])] = {
    def ids(k: String) = GraphStore.jsonLongs(meta, k).toSet
    GraphStore.jsonLongs(meta, "readMark") match {
      case Seq(eidx, bseq) =>
        Some(((eidx, bseq), ids("valueReads"), ids("targetReads"), ids("targetMembers")))
      case _ => None
    }
  }

  private def applyOne[V](store: GraphStore[V], txnId: String,
      meta: String, loaded: Either[String, Seq[GraphOp[V]]],
      existsAtStart: Set[Long],
      createdThisPoll: mutable.Set[Long],
      removedThisPoll: mutable.Set[Long],
      mutatedThisPoll: mutable.Set[Long],
      mutatedSinceCache: mutable.Map[(Long, Long),
        Either[String, (Set[Long], Set[Long])]],
      failed: Seq[String] => Unit): TxnAck = {
    def refused(msg: String) = TxnAck(txnId, applied = false, Map.empty, Some(msg))
    loaded match {
      case Left(msg) => refused(msg)
      case Right(ops) if ops.isEmpty => refused("empty shipped txn")
      case Right(ops) =>
        // structural validation BEFORE any state change (txn atomicity):
        // every negative ref must be defined by a prior newNode in this
        // txn, no ref may point at a node this txn already removed, and —
        // the reference server's ClientFailure posture, Server.hs:17-69 —
        // every GLOBAL ref must exist in the store: a bad global id must
        // be a typed refusal up front, because discovering it mid-apply
        // (the session's unknown-id guard) would fail-stop the serve loop
        // on a purely client-side mistake, and on retry fail-stop it
        // again — a deterministic liveness DoS
        val defined = mutable.Set[Long]()
        val removedHere = mutable.Set[Long]()
        var invalid: Option[String] = None
        val it = ops.iterator
        while (invalid.isEmpty && it.hasNext) it.next() match {
          case GraphOp.NewNode(id, _) =>
            if (id >= 0)
              invalid = Some(s"shipped newNode must use a negative tx-local ref, got $id")
            else if (defined(id)) invalid = Some(s"duplicate tx-local ref $id")
            else defined += id
          case op =>
            val refs = refsOf(op)
            refs.find(r => r < 0 && !defined(r)).foreach(r =>
              invalid = Some(s"op references undefined tx-local ref $r"))
            if (invalid.isEmpty)
              refs.find(removedHere).foreach(r =>
                invalid = Some(s"op references node $r removed earlier in this txn"))
            if (invalid.isEmpty) op match {
              case GraphOp.RemoveNode(id) => removedHere += id
              case _ => ()
            }
        }
        if (invalid.isDefined) return refused(invalid.get)
        // encode probe: a value the store model cannot re-encode would
        // otherwise throw at COMMIT time, where group commit cannot
        // attribute the failure to a member (see flushGroup) — catching it
        // here turns a deterministic poison pill into a typed refusal
        // BEFORE any mutation. Values round-tripped through the client's
        // parquet shipping normally re-encode fine; this guards asymmetric
        // models. Cost: one extra encode of value-carrying ops, driver-side
        ops.foreach {
          case op @ (GraphOp.NewNode(_, _) | GraphOp.SetValue(_, _)) =>
            Try(GraphStore.opToRow(store.modelOf, op, 0L)) match {
              case scala.util.Failure(e) =>
                return refused(s"op value not encodable by the store model: ${e.getMessage}")
              case _ => ()
            }
          case _ => ()
        }
        val missing = ops.flatMap(refsOf).filter(_ >= 0).distinct.filterNot(r =>
          (existsAtStart(r) || createdThisPoll(r)) && !removedThisPoll(r))
        if (missing.nonEmpty)
          return refused(s"ops reference unknown or removed global ids: " +
            missing.take(8).mkString(", "))

        // STALE-READ CONFLICT CHECK (the apply-time stand-in for the
        // reference's reads-under-the-held-write-lock serializability,
        // GraphDB.hs:288-289): a txn that shipped snapshot-read
        // dependencies is refused if any node it READ was mutated by a
        // txn committed after its snapshot mark — the lost-update shape
        // that previously applied silently. Value reads conflict with
        // set/rm of the read id (and add/rmt of its target list);
        // targets reads additionally conflict with removals of members
        // the read actually OBSERVED (a removed node disappears from
        // every other node's list without naming it; the observed
        // members ship with the txn, so an unrelated removal elsewhere
        // in the graph does NOT refuse the txn). The meta string is the
        // one phase-1 triage read — never re-read here, so there is no
        // apply-time IO failure mode that could silently SKIP this check
        // (the previous Try(readString).getOrElse("") failed OPEN).
        parseReadInfo(meta).foreach { case (mark, vReads, tReads, tMembers) =>
          mutatedSinceCache.getOrElseUpdate(mark, store.mutatedSince(mark)) match {
            case Left(msg) =>
              return refused(s"stale-read conflict check failed ($msg); " +
                "rebuild the txn from a fresh snapshot")
            case Right((mutated, removed)) =>
              val mutAll = mutated ++ mutatedThisPoll
              val removedAll = removed ++ removedThisPoll
              val hit = (vReads ++ tReads).filter(mutAll) ++
                tMembers.filter(removedAll)
              if (hit.nonEmpty)
                return refused("stale-read conflict: node(s) " +
                  hit.toSeq.sorted.take(8).mkString(", ") +
                  " mutated after the snapshot this txn read from — " +
                  "rebuild the txn from a fresh snapshot")
          }
        }

        // apply as one local txn (the reference worker's interpret loop),
        // resolving ordinals to fresh global ids as newNode executes.
        // IMPORTANT: from the first session mutation on, failures are
        // FAIL-STOP, not refusals — a refused ack after mutation would lie
        // (the mutated ops sit in the session op log and a LATER txn's
        // commit would persist them while the client was told "refused").
        // A throw here leaves the txn un-acked in the inbox; the owner must
        // reopen the store (WAL-prefix recovery), after which the next poll
        // re-applies the txn from scratch — the same fail-stop discipline
        // as the buffered WAL worker (GraphStore walFailure). Under group
        // commit, earlier applied-but-unflushed txns of the SAME group are
        // equally un-acked and uncommitted, so the reopen rolls them back
        // too and the next poll re-applies them — no ack was written, so
        // exactly-once is preserved for every group member. `failed` hears
        // of the txn: the inbox's strike toward [[MaxApplyAttempts]], after
        // which the txn is moved aside on the next poll.
        val session = store.session
        val mapping = mutable.Map[Long, Long]()
        def resolve(x: Long): Long = if (x < 0) mapping(x) else x
        try {
          ops.foreach {
            case GraphOp.NewNode(ref, v) => mapping(ref) = session.newNode(v)
            case GraphOp.SetValue(id, v) => session.setValue(resolve(id), v)
            case GraphOp.AddTarget(s, d) => session.addTarget(resolve(s), resolve(d))
            case GraphOp.RemoveTarget(s, d) => session.removeTarget(resolve(s), resolve(d))
            case GraphOp.RemoveNode(id) => session.remove(resolve(id))
          }
          val ack = TxnAck(txnId, applied = true, mapping.toMap, None)
          // the ops now sit in the session op log, UNCOMMITTED: durability
          // (one WAL batch tagged with every member's ack — batch-durable
          // ⟺ ack-recoverable, see applyTxns's recovery leg 2) is the
          // caller's GROUP flush, so a poll of N applied txns pays one
          // parquet publish, not N
          createdThisPoll ++= mapping.values
          removedThisPoll ++= ops.collect { case GraphOp.RemoveNode(id) => resolve(id) }
          mutatedThisPoll ++= ops.collect {
            case GraphOp.SetValue(id, _) => resolve(id)
            case GraphOp.AddTarget(s, _) => resolve(s)
            case GraphOp.RemoveTarget(s, _) => resolve(s)
            case GraphOp.RemoveNode(id) => resolve(id)
          }
          ack
        } catch {
          case scala.util.control.NonFatal(e) =>
            store.remoteApplyPoisoned = true
            failed(Seq(txnId))
            throw new ApplyFailedException(txnId, e)
        }
    }
  }

  /** Archive a txn dir, NON-THROWING (the marker-cleanup discipline):
    * `Files.move(REPLACE_EXISTING)` cannot replace a non-empty directory
    * (DirectoryNotEmptyException), so a same-named dir already present in
    * the target (operator restore, purged-then-reused clientId) would
    * otherwise throw out of every poll's triage and wedge the serve loop.
    * The stale target is deleted first — it is superseded by construction
    * (txn dirs are identified by txnId; the occurrence being archived is
    * the one the inbox just processed) — and if the move STILL fails the
    * dir moves to a uniquified sibling, or stays in the inbox for the next
    * poll's triage (which re-classifies it correctly from its ack/tag).
    */
  private def archive(dir: Path, appliedDir: Path): Unit = {
    val moved = Try {
      Files.createDirectories(appliedDir)
      val target = appliedDir.resolve(dir.getFileName)
      if (Files.exists(target)) GraphStore.deleteRecursively(target)
      Files.move(dir, target, StandardCopyOption.REPLACE_EXISTING)
    }
    if (moved.isFailure)
      (1 to 3).iterator
        .map(i => Try(Files.move(dir,
          appliedDir.resolve(s"${dir.getFileName}-dup$i"))))
        .find(_.isSuccess)
    ()
  }
}
