package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.regex.Pattern

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.graph._

/** Persistent graph sessions: parquet checkpoints ⊕ parquet op-log replay —
  * the exact persistence model of the reference
  * (/root/reference/library/GraphDB/Storage.hs:91-207, rules
  * Storage/Rules.hs:7-25), with parquet directories instead of binary files:
  *
  * {{{
  *   <path>/N.checkpoint/{nodes,edges,index}/ + _meta.json   (snapshot)
  *   <path>/N.events/batch-K/                                 (op batches)
  *   <path>/archive/                                          (superseded)
  * }}}
  *
  * Invariants mirrored from the reference:
  *  - open: newest readable checkpoint C, replay event dirs with index > C
  *    ascending (Storage.hs:104-148); fresh session otherwise;
  *  - each open starts a new events index; commit() appends one batch dir;
  *  - close(): write checkpoint at the current index, then archive all
  *    events ≤ index and checkpoints < index (Storage.hs:171-207);
  *  - checkpoints are REACHABILITY-SCOPED (serialize walks from the root,
  *    Graph.hs:145-195) — orphaned subgraphs are vacuumed on close.
  *
  * Scale posture: the checkpoint write is a straight distributed parquet
  * dump of the three state DataFrames (repartitioned by `src` so a reload
  * starts co-partitioned for hop joins); `commitBulk` writes edge-ingest
  * WAL batches straight from the cluster and replays them set-wise, so a
  * bulk commit of 10^9 ops never touches the driver (session ops via
  * `commit()` are driver-issued by nature and stay driver-sized).
  */
final class GraphStore[V] private (
    spark: SparkSession,
    model: GraphModel[V],
    path: Path,
    val session: GraphSession[V],
    private var eventsIndex: Long,
    lock: GraphStore.DirLock,
    buffered: Boolean) {

  private var batchSeq: Long = 0
  private var closed = false

  // internal accessors for the write-shipping server (RemoteWrite)
  private[store] def sparkOf: SparkSession = spark
  private[store] def modelOf: GraphModel[V] = model

  /** Set when a shipped txn failed after its first session mutation
    * (RemoteWrite fail-stop): the session may hold a partial txn, so
    * further write-shipping polls must refuse until the store is reopened.
    * The serving analog of the WAL worker's fail-stop `walFailure`.
    */
  private[store] var remoteApplyPoisoned: Boolean = false

  private val opSchema = GraphStore.opSchema(model)

  // ---------------------------------------------------- async WAL buffering
  // The reference hides WAL write latency behind a bounded queue of pending
  // txns drained by one background worker (PersistenceBuffering,
  // /root/reference/library/GraphDB/Persistent.hs:108-117, worker loop
  // Util/IOQueue.hs:20-48). Same shape here: one worker thread (FIFO — WAL
  // order is batch order), a bounded queue (backpressure: an enqueue into a
  // full buffer BLOCKS the caller instead of dropping or reordering), and a
  // drain barrier on close. Durability trade, exactly the reference's: a
  // buffered commit() is acknowledged before it is durable; a crash loses
  // at most the buffered suffix, and because the worker is fail-stop (first
  // failure poisons the queue — later writes are SKIPPED, not written
  // around a hole) the surviving WAL is always a PREFIX of acked commits.
  private val walFailure =
    new java.util.concurrent.atomic.AtomicReference[Throwable](null)
  private val walExec: java.util.concurrent.ThreadPoolExecutor =
    if (!buffered) null
    else {
      import java.util.concurrent._
      new ThreadPoolExecutor(1, 1, 0L, TimeUnit.MILLISECONDS,
        new ArrayBlockingQueue[Runnable](GraphStore.WalBufferDepth),
        (r: Runnable) => {
          val t = new Thread(r, s"graft-wal-$path"); t.setDaemon(true); t
        },
        new RejectedExecutionHandler {
          def rejectedExecution(r: Runnable, e: ThreadPoolExecutor): Unit = {
            if (e.isShutdown) throw new RejectedExecutionException("store is closed")
            e.getQueue.put(r) // full buffer: block the caller (keeps FIFO)
          }
        })
    }

  private def enqueueWal(name: String, txnTags: Seq[String])(write: Path => Unit): Unit = {
    rethrowWalFailure()
    walExec.execute { () =>
      if (walFailure.get() == null) {
        try writeWalBatch(name, txnTags)(write)
        catch { case e: Throwable => walFailure.compareAndSet(null, e) }
      }
    }
  }

  private def rethrowWalFailure(): Unit = {
    val e = walFailure.get()
    if (e != null) throw new IllegalStateException(
      "async WAL append failed; the store's WAL is the prefix of commits " +
        "before the failure", e)
  }

  /** Barrier: block until every enqueued WAL batch is durably published,
    * surfacing the first background failure — the IOQueue drain
    * (Util/IOQueue.hs:40-48 `performUntilEmpty` on close).
    */
  def drain(): Unit = if (buffered) {
    walExec.submit(new Runnable { def run(): Unit = () }).get()
    rethrowWalFailure()
  }

  /** Test hook: park the WAL worker on `gate` so a spec can observe the
    * buffered window deterministically.
    */
  private[graft] def stallWal(gate: java.util.concurrent.CountDownLatch): Unit =
    if (buffered) walExec.execute { () =>
      // interrupt = simulated process death via abandon(); not an error
      try gate.await() catch { case _: InterruptedException => () }
    }

  /** Apply pending ops and append them to the current events dir as one
    * parquet batch — the WAL append (Persistent.hs:108-117 analog; our
    * "buffering" is the batch itself).
    */
  def commit(): Unit = commitTagged(None)

  /** [[commit]] with an optional transaction tag durably co-published with
    * the WAL batch (written inside the staged dir before the atomic rename,
    * so batch-durable ⟺ tag-durable). The write-shipping server
    * (RemoteWrite) tags each shipped txn's batch with its ack so a crash
    * between WAL drain and ack write can be recovered by REPLAYING THE ACK
    * instead of re-applying the txn — re-application would mint fresh
    * global ids for the same newNodes and leave the first application's
    * subgraph durable but unreferenced by any ack (duplicated data, the
    * strong form of at-least-once this closes).
    */
  private[store] def commitTagged(txnTag: Option[String]): Unit =
    commitTaggedAll(txnTag.toSeq)

  /** Group-commit form: ONE WAL batch durably carrying MANY txn tags (one
    * flattened tag per `_txnmeta.json` line — the shape both tag readers
    * parse). This is what lets RemoteWrite ack a whole poll of shipped
    * txns with a single parquet publish instead of one per txn: batch-
    * durable ⟺ every member ack recoverable, the same crash-window
    * contract as the single-tag form, paid once per group.
    */
  private[store] def commitTaggedAll(txnTags: Seq[String]): Unit = {
    require(!closed, "store is closed")
    requireNotSealed()
    // peek-validate-write-clear: the op log is only cleared after the WAL
    // batch is durably on disk, so a failed validation (seq-range overflow)
    // or write error leaves the ops drainable by a corrected retry instead
    // of silently dropping them from the WAL
    val ops = session.peekLog()
    if (ops.nonEmpty) {
      // seq is GLOBALLY monotonic ((eventsIndex, batch, offset) packed into
      // one long) so any reader — replay or a replica catching up on
      // several batches — can totally order ops by it.
      // Packing bounds are enforced, not assumed: 2^28 ops/commit,
      // 2^16 commits/session, 2^19 sessions — exceeding one would silently
      // interleave seq ranges and corrupt replay order (eventsIndex ≥ 2^19
      // shifts into the sign bit, producing negative seqs that order BEFORE
      // every existing op on replay).
      require(ops.size < (1L << 28),
        s"commit of ${ops.size} ops exceeds the 2^28 per-commit seq range; split the batch")
      require(batchSeq < (1L << 16),
        s"session exceeded 2^16 commits; close() and reopen to roll the events index")
      require(eventsIndex < (1L << 19),
        s"events index $eventsIndex exceeds the 2^19 session-generation seq range")
      val base = (eventsIndex << 44) | (batchSeq << 28)
      val rows = ops.zipWithIndex.map { case (op, i) =>
        GraphStore.opToRow(model, op, base + i.toLong)
      }
      // the batch is written on the driver by parquet's own writer: no
      // Spark job (OpBatchFile)
      val write = (dir: Path) => OpBatchFile.write(spark, opSchema, rows, dir)
      // buffered mode acknowledges BEFORE the write is durable (the
      // reference's PersistenceBuffering trade): the log is cleared at
      // enqueue, and a crash loses at most the buffered suffix — see the
      // async-WAL block above. Synchronous mode keeps write-then-clear.
      if (buffered) enqueueWal(f"batch-$batchSeq%06d", txnTags)(write)
      else writeWalBatch(f"batch-$batchSeq%06d", txnTags)(write)
      session.clearLog()
      batchSeq += 1
    }
  }

  // -------------------------------------------------- shipped-txn tag index
  // Lazily-built index of `_txnmeta.json` tags found in this store's WAL
  // batch dirs (live + archive). Consulted by RemoteWrite recovery: an
  // un-acked inbox txn whose tag is on disk was already applied and must
  // get its recorded ack, never a second application.
  private var txnTagCache: collection.Map[String, String] = null

  /** The durable tag recorded for `txnId`'s WAL batch, if any. */
  private[store] def txnTag(txnId: String): Option[String] = {
    if (txnTagCache == null) {
      val found = scala.collection.mutable.Map[String, String]()
      def scanEvents(base: Path): Unit =
        if (Files.isDirectory(base))
          GraphStore.listDirs(base, _.endsWith(".events")).foreach { ev =>
            // archived dirs carry a one-file tag index (written at
            // archival time, see cleanUp) — O(dirs) recovery instead of a
            // walk over every batch dir ever committed. An EMPTY sidecar
            // still counts: "indexed, no tags". Live dirs (bounded: the
            // current session's batches) and pre-index archives fall back
            // to the per-batch walk
            val sidecar = ev.resolve(GraphStore.TxnTagIndexName)
            val tags =
              if (Files.exists(sidecar)) GraphStore.tagLines(sidecar)
              else GraphStore.batchTags(ev)
            tags.foreach(json => GraphStore.jsonField(json, "txnId").foreach(found(_) = json))
          }
      scanEvents(path)
      scanEvents(path.resolve("archive"))
      txnTagCache = found
    }
    txnTagCache.get(txnId)
  }

  /** Register a tag just committed by THIS instance (keeps the lazy cache
    * coherent without a rescan; a null cache will find it on disk anyway).
    */
  private[store] def recordTxnTag(txnId: String, json: String): Unit =
    if (txnTagCache != null)
      txnTagCache = txnTagCache.toMap
        .updated(txnId, json.replaceAll("[\r\n]+", " ").trim)

  /** Node ids mutated by WAL batches COMMITTED AFTER `mark` (an
    * (eventsIndex, batchSeq) coverage stamp, GraphReplica.watermark),
    * plus the subset that were REMOVED — the server side of the
    * stale-read conflict check (RemoteWrite): a shipped txn whose
    * snapshot reads predate these mutations is refused instead of
    * silently applying a lost update. Mutations: `set`/`rm` touch their
    * id; `add`/`rmt` touch the SOURCE's target list; `new` touches
    * nothing pre-existing. The removed set is what lets a targets read
    * conflict only with removals of members it actually OBSERVED (a
    * removal hides the node from every other list without naming it).
    * Scans only the batch dirs beyond the mark (live + archive) —
    * bounded in practice by snapshot freshness; a window larger than
    * the replay bound returns Left (the caller refuses the txn with
    * "retry on a fresh snapshot" rather than collecting unbounded state
    * onto the driver).
    */
  private[store] def mutatedSince(mark: (Long, Long))
      : Either[String, (Set[Long], Set[Long])] = {
    val dirs = GraphStore.committedBatches(path, mark).map(_._2)
    val bound = GraphStore.maxReplayBatchRows
    val columns = StructType(Seq("op", "id", "src").map(opSchema(_)))
    val kinds = Set("set", "add", "rmt", "rm")
    Try {
      // the bound counts mutations only: each dir reads what is left of it
      val rows = dirs.foldLeft(Vector.empty[Row]) { (acc, d) =>
        if (acc.length > bound) acc
        else acc ++ OpBatchFile.read(spark, Some(columns), d, bound + 1 - acc.length,
          r => kinds(r.getString(0)))
      }
      if (rows.length > bound)
        Left(s"more than $bound mutations since " +
          "the snapshot mark")
      else {
        val mutated = rows.iterator.map { r =>
          r.getString(0) match {
            case "set" | "rm" => r.getLong(1)
            case _ => r.getLong(2)
          }
        }.toSet
        val removed = rows.iterator
          .filter(_.getString(0) == "rm").map(_.getLong(1)).toSet
        Right((mutated, removed))
      }
    }.toEither.left.map(e =>
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
      .flatten
  }

  /** Test-only fault injection: the next [[writeWalBatch]] throws AFTER the
    * staging write, exercising the failure-cleanup path.
    */
  private[graft] var failNextWalPublish: Boolean = false

  /** Test-only fault injection: the next [[close]] throws AFTER the atomic
    * `_meta.json` publish but BEFORE cleanUp — the committed-checkpoint
    * retry window.
    */
  private[graft] var failNextCleanUp: Boolean = false

  // Set the instant close() publishes its checkpoint's _meta.json. From
  // that point the committed checkpoint at `eventsIndex` IS the session's
  // durable record and SHADOWS this index's events on reopen (replay takes
  // only dirs STRICTLY AFTER the checkpoint index) — so a commit landing
  // after it would be silently lost on the next open. Sealing turns that
  // silent loss into a typed refusal, and makes a retried close() after a
  // post-publish failure (e.g. transient cleanUp error) skip the rewrite —
  // whose ErrorIfExists writes would otherwise fail forever with the dir
  // lock still held — and proceed straight to archival + release.
  private var ckptCommitted: Boolean = false

  private def requireNotSealed(): Unit =
    require(!ckptCommitted,
      "close() already committed this session's checkpoint; the store is " +
        "sealed — a commit now would be shadowed by it on reopen. Retry " +
        "close(), then reopen the store to write more")

  /** Durably append one WAL batch: `write` fills the new directory
    * `_staging/<name>` with the batch's parquet and its `_SUCCESS` marker
    * (a driver op batch through [[OpBatchFile]], a bulk batch through a
    * distributed Spark write), then an ATOMIC directory rename publishes
    * it into the events dir. Two failure modes
    * the reference's retryable-write promise (Storage.hs:154-177) requires:
    *
    *  - a failed write must not poison the slot: staging debris (ours
    *    exclusively — the dir lock serializes writers) is cleared both
    *    before an attempt and on its failure, so a retry of the SAME
    *    batchSeq always starts clean instead of dying on ErrorIfExists
    *    forever (which would also break close(), since close commits);
    *  - a reader must never observe a half-written batch: the rename is the
    *    publish point, so replay and catching-up replicas either see the
    *    complete batch (with its _SUCCESS marker already inside) or nothing.
    *    Without staging there is a window between the data files landing
    *    and the _SUCCESS marker where a follower can apply ops the writer
    *    then loses in crash recovery (phantom ops).
    */
  private def writeWalBatch(name: String, txnTags: Seq[String])(
      write: Path => Unit): Unit = {
    val staging = path.resolve("_staging").resolve(name)
    val target = path.resolve(s"$eventsIndex.events").resolve(name)
    GraphStore.deleteRecursively(staging)
    // a target dir without _SUCCESS was never acknowledged to anyone
    // (pre-staging debris or tampering) — clear it rather than failing
    if (Files.exists(target) && !Files.exists(target.resolve("_SUCCESS")))
      GraphStore.deleteRecursively(target)
    try {
      write(staging)
      // `_`-prefixed so every parquet reader (replay, followers) ignores it;
      // inside the staged dir so the atomic publish covers batch AND tags.
      // One flattened tag per line — normalized at WRITE time so the live
      // walk, the archival sidecar, and recordTxnTag all see one string
      if (txnTags.nonEmpty)
        Files.writeString(staging.resolve("_txnmeta.json"),
          txnTags.map(_.replaceAll("[\r\n]+", " ").trim)
            .mkString("", "\n", "\n"))
      if (failNextWalPublish) {
        failNextWalPublish = false
        throw new RuntimeException("injected WAL publish failure (test hook)")
      }
      Files.createDirectories(target.getParent)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable =>
        GraphStore.deleteRecursively(staging)
        throw e
    }
  }

  /** Distributed bulk edge ingest — the 100 TB commit path that makes the
    * "never touches the driver" claim true: the delta is deduped, counted,
    * and written as a WAL batch straight from the cluster (seq assigned by
    * zipWithIndex), and the state update is a DataFrame anti-join/union
    * (GraphState.withTargetsDF). Pending driver-side ops flush first as
    * their own batch so WAL order is preserved. The batch dir carries a
    * `-bulk` suffix; replay applies such batches set-wise instead of
    * collecting rows (see [[GraphStore.replayBatch]]), in the writer's
    * recovery and in a replica's catch-up alike.
    */
  def commitBulk(adds: org.apache.spark.sql.DataFrame): Unit = {
    require(!closed, "store is closed")
    requireNotSealed()
    commit()
    val delta = adds
      .select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .localCheckpoint(true)
    val n = delta.count()
    if (n > 0) {
      require(n < (1L << 28),
        s"bulk commit of $n edges exceeds the 2^28 per-commit seq range; split the batch")
      require(batchSeq < (1L << 16),
        s"session exceeded 2^16 commits; close() and reopen to roll the events index")
      require(eventsIndex < (1L << 19),
        s"events index $eventsIndex exceeds the 2^19 session-generation seq range")
      val base = (eventsIndex << 44) | (batchSeq << 28)
      val schema = opSchema
      val rows = delta.rdd.zipWithIndex().map { case (r, i) =>
        Row(base + i, "add", null, r.getLong(0), r.getLong(1), null, null)
      }
      val df = spark.createDataFrame(rows, schema)
      // routed through the same queue in buffered mode: a bulk batch that
      // landed while an earlier driver-op batch was still queued would
      // survive a crash as a non-prefix WAL (hole before it) otherwise
      val write = (dir: Path) =>
        df.write.mode(SaveMode.ErrorIfExists).parquet(dir.toString)
      if (buffered) enqueueWal(f"batch-$batchSeq%06d-bulk", Seq.empty)(write)
      else writeWalBatch(f"batch-$batchSeq%06d-bulk", Seq.empty)(write)
      batchSeq += 1
      session.applyBulkTargets(delta)
    }
  }

  /** Checkpoint + archive + release — the reference's session close
    * (Persistent.hs:86-89): final checkpoint of the root-reachable closure,
    * then archival of superseded files.
    */
  def close(): Unit = {
    if (closed) return
    val ckptDir = path.resolve(s"$eventsIndex.checkpoint")
    // RETRYABLE in both failure shapes of a prior close() attempt:
    //  - died BEFORE the _meta.json publish → a meta-less partial dir was
    //    never acknowledged; clear it and rewrite (below);
    //  - died AFTER the publish (transient cleanUp error) → the committed
    //    checkpoint is EXACT (the seal refused any commit since), so skip
    //    the rewrite — its ErrorIfExists writes would fail forever with
    //    the dir lock held — and go straight to archival + release.
    if (!(ckptCommitted && GraphStore.metaComplete(ckptDir))) {
      // a sealed store whose marker later vanished (external delete, torn
      // tamper) re-enters this rewrite branch — UNSEAL first, or the
      // commit() below dies in requireNotSealed on every retry with the
      // dir lock held, the exact wedge the seal was built to remove. Safe:
      // the marker being gone means no reopen can have been shadowed by it
      ckptCommitted = false
      commit()
      drain() // final batch (and any buffered ones) durable before checkpoint
      val st = session.applied()
      val reach = Reachability.reachable(st.edges, Seq(session.root))
      // a meta-less dir was never acknowledged to anyone — clear it so the
      // retry starts clean (the writeWalBatch staging discipline)
      if (Files.exists(ckptDir) && !Files.exists(ckptDir.resolve("_meta.json")))
        GraphStore.deleteRecursively(ckptDir)
      val keepNodes = st.nodes.join(reach, Seq("id"), "left_semi")
      val reachSrc = reach.select(col("id").as("src"))
      keepNodes.write.parquet(ckptDir.resolve("nodes").toString)
      st.edges.join(reachSrc, Seq("src"), "left_semi")
        .repartition(col("src"))
        .write.parquet(ckptDir.resolve("edges").toString)
      st.index.join(reachSrc, Seq("src"), "left_semi")
        .repartition(col("src"))
        .write.parquet(ckptDir.resolve("index").toString)
      // the meta is the checkpoint's COMMIT MARKER — written atomically
      // (tmp + rename): a torn marker would otherwise read as a committed
      // checkpoint whose lenient parse silently resets the id watermark to
      // 0, minting a duplicate root and colliding every subsequent id
      GraphStore.writeJsonAtomic(ckptDir.resolve("_meta.json"),
        s"""{"formatVersion": ${GraphStore.FormatVersion}, "nextId": ${session.idWatermark}}""")
      ckptCommitted = true // seal: from here the checkpoint is the record
    }
    if (failNextCleanUp) {
      failNextCleanUp = false
      throw new RuntimeException("injected post-publish close failure (test hook)")
    }
    GraphStore.cleanUp(path, eventsIndex)
    // shutdown LAST: a retried close() after a mid-checkpoint failure must
    // still be able to drain() — shutting the worker down before the
    // checkpoint succeeded made every retry die in the drain barrier
    if (buffered) walExec.shutdown()
    lock.release()
    closed = true
  }

  /** Test hook: simulate process death — drop the dir lock WITHOUT
    * checkpointing (a real crash releases the OS file lock implicitly).
    */
  private[graft] def abandon(): Unit = {
    if (buffered) walExec.shutdownNow() // queued WAL batches die with the "process"
    lock.release(); closed = true
  }
}

object GraphStore {

  /** On-disk store format version, stamped into every checkpoint's
    * _meta.json. The open/snapshot gate below is the single-process analog
    * of the reference's client/server model-version handshake
    * (/root/reference/library/GraphDB.hs:169-174, `ClientFailure`'s
    * version-mismatch refusal): a store written by an incompatible layout
    * must be refused with a typed error, not half-read into silent
    * corruption.
    */
  val FormatVersion: Int = 1

  /** Typed refusal for a store whose on-disk format this build cannot
    * read — the `ClientFailure` analog.
    */
  final class IncompatibleStoreFormatException(val found: Int, val where: String)
    extends IllegalStateException(
      s"store at $where has format version $found; this build supports " +
        s"version $FormatVersion — migrate the store or upgrade the library")

  private def checkFormat(meta: String, where: String): Unit = {
    val found = """"formatVersion":\s*(\d+)""".r.findFirstMatchIn(meta)
      .map(_.group(1).toInt).getOrElse(1) // pre-gate stores are version 1
    if (found != FormatVersion)
      throw new IncompatibleStoreFormatException(found, where)
  }

  /** A checkpoint is COMMITTED iff its `_meta.json` exists AND carries both
    * fields — existence alone is not enough now that close() writes the
    * marker atomically, but stores from before that fix (or a tampered
    * marker) could hold a torn file whose lenient parse would default
    * `nextId` to 0 and silently mint colliding ids; a half-parseable meta
    * means a half-committed checkpoint, which must fall back like any
    * other partial.
    */
  private def metaComplete(ckpt: Path): Boolean = {
    val m = ckpt.resolve("_meta.json")
    Files.exists(m) && {
      val s = Try(Files.readString(m)).getOrElse("")
      """"formatVersion":\s*\d+""".r.findFirstIn(s).isDefined &&
        """"nextId":\s*\d+""".r.findFirstIn(s).isDefined
    }
  }

  /** Open (or create) a persistent session at `path` — the analog of
    * `runPersistentSession` (GraphDB.hs:152-156).
    */
  /** Exclusive writer lock on the store directory — the analog of the
    * reference's dir lock (Storage.hs:209-216 acquireFileLock). A second
    * concurrent open throws; readers (GraphReplica followers) don't lock.
    */
  final class DirLock private[GraphStore] (path: Path) {
    private val channel = java.nio.channels.FileChannel.open(
      path, java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    private val flock = {
      // close the channel on EVERY failure path (an IOException from a
      // lock-less filesystem would otherwise leak the fd, which can block
      // reopening the store in this JVM until GC)
      val l =
        try channel.tryLock()
        catch {
          case _: java.nio.channels.OverlappingFileLockException =>
            channel.close()
            throw new IllegalStateException(
              s"store at ${path.getParent} is locked by another session (this JVM)")
          case e: Throwable =>
            channel.close()
            throw e
        }
      if (l == null) {
        channel.close()
        throw new IllegalStateException(
          s"store at ${path.getParent} is locked by another session")
      }
      l
    }
    def release(): Unit = { flock.release(); channel.close() }
  }

  /** Bounded depth of the async WAL buffer (the reference's IOQueue is
    * constructed with a caller-chosen bound, GraphDB.hs:152-156 passing
    * `buffering`; we fix a depth that keeps at most 64 small op batches
    * in flight).
    */
  val WalBufferDepth: Int = 64

  /** Open (or create) a persistent session. `buffered = true` enables the
    * async WAL append (see the buffering block in [[GraphStore]]): commit()
    * returns after enqueue, close() drains.
    */
  def open[V](spark: SparkSession, model: GraphModel[V], rootValue: V,
      dir: String, buffered: Boolean = false): GraphStore[V] = {
    val path = Paths.get(dir)
    Files.createDirectories(path)
    Files.createDirectories(path.resolve("archive"))
    val lock = new DirLock(path.resolve("lock"))
    try openLocked(spark, model, rootValue, path, lock, buffered)
    catch { case e: Throwable => lock.release(); throw e }
  }

  private def openLocked[V](spark: SparkSession, model: GraphModel[V],
      rootValue: V, path: Path, lock: DirLock, buffered: Boolean): GraphStore[V] = {

    // staging debris is an un-published WAL batch from a crash mid-commit:
    // never acknowledged, never readable (the events glob excludes
    // _staging), safe to drop wholesale
    deleteRecursively(path.resolve("_staging"))

    // _meta.json is written LAST in close(), so it is the checkpoint's
    // commit marker: a dir without it is a partial write from a crash
    // mid-close. Fall back to the next-newest committed checkpoint (the
    // reference's msum over deserializeLatestCheckpoint, Storage.hs:104-134)
    // and delete the debris so it cannot shadow a later checkpoint at the
    // same index; surviving events dirs still replay below.
    val (committed, partial) =
      list(path, ".checkpoint").partition(c =>
        metaComplete(path.resolve(s"$c.checkpoint")))
    // delete only TRUE debris — a dir with no marker at all (crash before
    // the atomic meta publish). A PRESENT-but-malformed meta is excluded
    // from selection (loading it would default nextId to 0: duplicate
    // root, colliding ids) but preserved on disk: it may be a tampered or
    // legacy store's only copy, and recovery falls back to the previous
    // committed checkpoint + live events either way
    partial
      .filter(c => !Files.exists(path.resolve(s"$c.checkpoint").resolve("_meta.json")))
      .foreach(c => deleteRecursively(path.resolve(s"$c.checkpoint")))
    val latest = committed.sorted(Ordering[Long].reverse).headOption

    val (session, replayedThrough) = latest match {
      case Some(c) =>
        val ckpt = path.resolve(s"$c.checkpoint")
        val meta = Files.readString(ckpt.resolve("_meta.json"))
        checkFormat(meta, ckpt.toString) // refuse BEFORE reading any parquet
        val nodes = spark.read.parquet(ckpt.resolve("nodes").toString)
        val edges = spark.read.parquet(ckpt.resolve("edges").toString)
        val index = spark.read.parquet(ckpt.resolve("index").toString)
        val nextId = jsonField(meta, "nextId").fold(0L)(_.toLong)
        val st = GraphState(spark, model, nodes, edges, index).checkpointed()
        val s = GraphSession.fromState(spark, model, st, nextId)
        (s, replay(spark, model, path, s, after = c))
      case None =>
        // brand-new store, or a crashed prior session left events but no
        // checkpoint yet — replay everything from scratch (the root's own
        // NewNode is in the WAL like every other op)
        val s = GraphSession.fromState(spark, model,
          GraphState.empty(spark, model), 0L)
        (s, replay(spark, model, path, s, after = 0L))
    }
    // drop replayed ops from the log: they are already on disk
    session.drainLog()
    // brand-new store: create the root — applied EAGERLY (the batch-abort
    // semantics must never roll the root back with a failing first batch;
    // see GraphSession.inMemory) and persisted by the first commit (the
    // applied op stays in the drainable log)
    if (session.idWatermark == 0L) {
      val id = session.newNode(rootValue)
      require(id == 0L)
      session.applied()
    }
    new GraphStore(spark, model, path, session,
      eventsIndex = math.max(replayedThrough, latest.getOrElse(0L)) + 1, lock,
      buffered)
  }

  /** Committed checkpoint indices available for [[snapshot]] reads — live
    * dir plus `archive/` (the reference moves superseded checkpoints there
    * rather than deleting them, Storage.hs:179-205, which is what makes
    * time travel possible at all).
    */
  def snapshots(dir: String): Seq[Long] = {
    val path = Paths.get(dir)
    val committed = (cp: Path) => (c: Long) =>
      metaComplete(cp.resolve(s"$c.checkpoint"))
    val live = list(path, ".checkpoint").filter(committed(path))
    val archived =
      if (Files.isDirectory(path.resolve("archive")))
        list(path.resolve("archive"), ".checkpoint")
          .filter(committed(path.resolve("archive")))
      else Seq.empty
    (live ++ archived).distinct.sorted
  }

  /** Read-only historical snapshot: the graph state exactly as checkpoint
    * `index` persisted it (reachability-scoped, index included) — no
    * writer lock taken, so it works while a live session holds the store.
    * MVCC across restarts: DataFrame immutability gives point-in-time
    * reads within a session; archived checkpoints extend that across the
    * store's whole history.
    */
  def snapshot[V](spark: SparkSession, model: GraphModel[V], dir: String,
      index: Long): GraphState[V] = {
    val path = Paths.get(dir)
    // ARCHIVE FIRST: an archived checkpoint never moves again, so binding
    // the lazy parquet reads there is race-free; the live copy of `index`
    // can be moved to archive by a concurrent writer's close() between
    // this bind and a later action (lock-free reads are the contract).
    // Residual: only the NEWEST checkpoint can be hit mid-move — a
    // transient FileNotFound on action resolves by re-calling snapshot(),
    // which then binds to the archived copy.
    val ckpt = Seq(path.resolve("archive").resolve(s"$index.checkpoint"),
      path.resolve(s"$index.checkpoint"))
      .find(metaComplete)
      .getOrElse(throw new NoSuchElementException(
        s"no committed checkpoint $index at $dir (have: ${snapshots(dir).mkString(",")})"))
    checkFormat(Files.readString(ckpt.resolve("_meta.json")), ckpt.toString)
    GraphState(spark, model,
      spark.read.parquet(ckpt.resolve("nodes").toString),
      spark.read.parquet(ckpt.resolve("edges").toString),
      spark.read.parquet(ckpt.resolve("index").toString))
  }

  /** Driver-safe ceiling for one NON-bulk replay batch (bulk batches replay
    * set-wise and have no driver bound). 2^20 ops ≈ tens of MB of Row —
    * far above anything commit() can produce in a driver-issued session,
    * far below driver OOM. `var` only for the spec that lowers it to prove
    * the typed failure without writing 2^20 rows.
    */
  private[graft] var maxReplayBatchRows: Int = 1 << 20

  /** Typed refusal of an oversized non-bulk WAL batch: replaying it would
    * collect unbounded rows to the driver. Large ingests belong to
    * [[GraphStore.commitBulk]], whose `-bulk` batches replay set-wise.
    */
  final class OversizedReplayBatchException(where: String, bound: Int)
    extends IllegalStateException(
      s"non-bulk WAL batch at $where exceeds $bound ops; driver-issued " +
        "op batches are driver-sized by construction — write large ingests " +
        "with commitBulk (replayed set-wise, never collected)")

  /** Replay event dirs with index > `after`, ascending — Storage.hs:136-148.
    * Returns the last replayed index (or `after`). Only the lock holder
    * walks the events dirs this way: it deletes torn batch dirs, which a
    * reader must not.
    */
  private def replay[V](spark: SparkSession, model: GraphModel[V], path: Path,
      session: GraphSession[V], after: Long): Long = {
    val eventDirs = list(path, ".events").filter(_ > after).sorted
    eventDirs.foreach { idx =>
      val dir = path.resolve(s"$idx.events")
      val allBatches = listPaths(dir)
        .filter(p => p.getFileName.toString.startsWith("batch-"))
        .sortBy(_.getFileName.toString)
      // _SUCCESS is the batch's write-commit marker, written last by both
      // WAL writers: a batch dir without it is a torn write from a crash
      // mid-commit() — those ops were never acknowledged to the writer, so
      // drop the debris (the WAL-batch analog of the partial-checkpoint
      // _meta.json rule above)
      val (ready, torn) = allBatches.partition(b => Files.exists(b.resolve("_SUCCESS")))
      torn.foreach(deleteRecursively)
      ready.foreach(replayBatch(spark, model, session, _))
    }
    eventDirs.lastOption.getOrElse(after)
  }

  /** Replay one committed WAL batch dir into `session` — the per-batch step
    * of the writer's recovery ([[replay]]) and of a replica's catch-up
    * (GraphReplica.catchUp), so a replica holds by construction what the
    * writer would recover from the same files. Like the reference, a
    * driver-sized batch is read straight from its file
    * ([[OpBatchFile.read]]), with no Spark job, and its ops queue on the
    * session in seq order (they apply at its next `applied()`).
    */
  private[store] def replayBatch[V](spark: SparkSession, model: GraphModel[V],
      session: GraphSession[V], batch: Path): Unit = {
    // every batch carries the op schema (driver- and Spark-written alike):
    // a bulk batch read with it runs no schema-inference job
    val schema = opSchema(model)
    if (batch.getFileName.toString.endsWith("-bulk")) {
      // bulk 'add' batches replay set-wise — a 10^9-edge ingest batch must
      // not be collected to the driver; order within the batch is
      // irrelevant (idempotent set union)
      session.applyBulkTargets(
        spark.read.schema(schema).parquet(batch.toString).select("src", "dst"))
    } else {
      // non-bulk batches are driver-sized BY CONSTRUCTION (session ops are
      // driver-issued). Make that invariant explicit instead of implicit: a
      // store whose WAL somehow carries an oversized non-bulk batch
      // (hand-written, foreign tooling) must fail loudly here, not OOM the
      // driver
      val rows = OpBatchFile.read(spark, Some(schema), batch, maxReplayBatchRows + 1)
      if (rows.length > maxReplayBatchRows)
        throw new OversizedReplayBatchException(batch.toString, maxReplayBatchRows)
      rows.sortBy(_.getLong(0)).foreach(r => session.replayOp(rowToOp(model, r)))
    }
  }

  /** The committed WAL batch dirs after `after`, an (eventsIndex, batchSeq)
    * mark, keyed by (eventsIndex, batchSeq) and sorted — what a reader
    * holding no lock may apply (GraphReplica.catchUp, [[mutatedSince]]).
    * Only `_SUCCESS`-marked `batch-K[-bulk]` dirs count. Live events dirs
    * are scanned before `archive/`, so a dir that a concurrent close()
    * moves between the two scans is seen in one of them; a dir that
    * vanishes mid-scan lists as empty, and a batch seen in both resolves to
    * its archived copy, which never moves again. The listing stops at the
    * first gap in batch seqs inside an events dir: the writer never leaves
    * one (seqs run from 0 and the async WAL queue is fail-stop), so a gap
    * is a publish this listing raced, and the next call resumes there.
    */
  private[graft] def committedBatches(root: Path, after: (Long, Long))
      : Seq[((Long, Long), Path)] = {
    val EventsRe = """\d{1,18}\.events""".r
    val BatchRe = """batch-\d{1,18}(-bulk)?""".r
    def dirs(base: Path, nameFilter: String => Boolean): Seq[Path] =
      try listDirs(base, nameFilter)
      catch { case _: java.nio.file.NoSuchFileException => Seq.empty }
    def scan(base: Path): Seq[((Long, Long), Path)] = for {
      ev <- dirs(base, EventsRe.matches)
      b <- dirs(ev, BatchRe.matches)
      if Files.exists(b.resolve("_SUCCESS"))
    } yield (ev.getFileName.toString.stripSuffix(".events").toLong,
      b.getFileName.toString.stripPrefix("batch-").stripSuffix("-bulk").toLong) -> b
    val ord = Ordering[(Long, Long)]
    val found = (scan(root) ++ scan(root.resolve("archive")))
      .groupMapReduce(_._1)(_._2)((_, archived) => archived)
      .toSeq.filter(b => ord.gt(b._1, after)).sortBy(_._1)
    var prev = after
    found.takeWhile { case (k @ (eidx, seq), _) =>
      val next = if (eidx == prev._1) seq == prev._2 + 1 else seq == 0L
      prev = k
      next
    }
  }

  /** Archive events ≤ index and checkpoints < index; delete checkpoints >
    * index (corrupt) — Storage.hs:179-205 / StorageTests.hs:130-144 rules.
    * Archived events dirs get their shipped-txn tags indexed first, so the
    * recovery scan reads one file per dir instead of walking every batch.
    */
  private def cleanUp(path: Path, index: Long): Unit = {
    val archive = path.resolve("archive")
    list(path, ".checkpoint").foreach { c =>
      if (c < index) move(path.resolve(s"$c.checkpoint"), archive)
      else if (c > index) deleteRecursively(path.resolve(s"$c.checkpoint"))
    }
    list(path, ".events").foreach { e =>
      val dir = path.resolve(s"$e.events")
      if (e <= index) { writeTxnTagIndex(dir); move(dir, archive) }
    }
  }

  /** One-file-per-dir shipped-txn tag index, written at archival time: the
    * tag jsons of every committed batch in `dir`, one per line (tags are
    * single-line by construction; any embedded newline is flattened so a
    * foreign tag cannot corrupt its neighbors' lines). Best-effort — a
    * failed sidecar write must not fail close(); the txnTag scan falls
    * back to the per-batch walk wherever the sidecar is absent.
    */
  private[store] val TxnTagIndexName = "_txnmeta-index.json"
  private def writeTxnTagIndex(dir: Path): Unit = Try {
    writeJsonAtomic(dir.resolve(TxnTagIndexName), batchTags(dir).map(_ + "\n").mkString)
  }

  /** The tags in a `_txnmeta.json` or a tag index, one per line: a
    * group-commit batch carries many, and tags are flattened and trimmed
    * at write time, so a line is one tag before and after archival.
    */
  private def tagLines(f: Path): Seq[String] =
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** The tags of every batch of events dir `ev`, in batch order. */
  private def batchTags(ev: Path): Seq[String] =
    listDirs(ev, _.startsWith("batch-")).sortBy(_.getFileName.toString)
      .flatMap(b => tagLines(b.resolve("_txnmeta.json")))

  /** Drained directory listing with the stream CLOSED — `Files.list`
    * holds an fd until closed (no cleaner), and the tag-cache scan walks
    * thousands of batch dirs in one call.
    */
  private[store] def listPaths(base: Path): Seq[Path] = {
    val s = Files.list(base)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Delete `p` and everything under it; a missing `p` is no error. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listPaths(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Replace `target` with `json` by one atomic rename of a sibling tmp
    * file: a reader sees the old file or the whole new one.
    */
  private[graft] def writeJsonAtomic(target: Path, json: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `s` as the body of a one-line JSON string: backslash and quote
    * escaped, line breaks blanked.
    */
  private[store] def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\r\n]", " ")

  /** The value of `key` in a flat one-line JSON object written by the
    * store: a string unescaped (quote, then backslash — the inverse of
    * [[esc]]), else the bare token; `None` when absent or null.
    */
  private[store] def jsonField(json: String, key: String): Option[String] =
    ("\"" + Pattern.quote(key) + "\":\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|[^,}\\s]+)").r
      .findFirstMatchIn(json).map(_.group(1)).filter(_ != "null")
      .map(v => if (!v.startsWith("\"")) v
        else v.substring(1, v.length - 1).replace("\\\"", "\"").replace("\\\\", "\\"))

  /** The integers of the array `key` in a flat JSON object; none when
    * absent.
    */
  private[store] def jsonLongs(json: String, key: String): Seq[Long] =
    ("\"" + Pattern.quote(key) + "\":\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(json).toSeq
      .flatMap(m => """-?\d+""".r.findAllIn(m.group(1)).map(_.toLong))

  /** Where client `clientId` resumes numbering: one past the highest seq
    * of a `<clientId>-<seq>…` entry in `dirs` (a missing dir holds none),
    * and at least `floor` — so a restarted client never reuses an id.
    */
  private[store] def nextSeq(clientId: String, dirs: Seq[Path], floor: Long = 0L): Long = {
    val mine = s"""^${Pattern.quote(clientId)}-(\\d+)""".r
    dirs.filter(Files.isDirectory(_)).flatMap(listPaths)
      .flatMap(f => mine.findFirstMatchIn(f.getFileName.toString)
        .flatMap(m => Try(m.group(1).toLong + 1).toOption))
      .foldLeft(floor)(_ max _)
  }

  private[store] def listDirs(base: Path, nameFilter: String => Boolean): Seq[Path] =
    listPaths(base)
      .filter(p => Files.isDirectory(p) && nameFilter(p.getFileName.toString))

  private def list(path: Path, suffix: String): Seq[Long] =
    listPaths(path)
      .map(_.getFileName.toString)
      .filter(_.endsWith(suffix))
      .flatMap(n => Try(n.stripSuffix(suffix).toLong).toOption)

  private def move(from: Path, archive: Path): Unit = {
    val target = archive.resolve(from.getFileName)
    // REPLACE_EXISTING cannot replace a NON-EMPTY directory — a same-named
    // dir already in archive/ (operator restore) would otherwise throw out
    // of every close()'s cleanUp with the dir lock held. The live dir is
    // the authoritative newer copy; the stale archived one is superseded.
    if (Files.exists(target)) deleteRecursively(target)
    Files.move(from, target, StandardCopyOption.REPLACE_EXISTING)
  }

  // ------------------------------------------------------- op serialization

  /** WAL op-row schema — single source of truth for every writer and
    * reader of op batches.
    */
  private[graft] def opSchema(model: GraphModel[_]): StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("id", LongType, nullable = true),
    StructField("src", LongType, nullable = true),
    StructField("dst", LongType, nullable = true),
    StructField("kind", StringType, nullable = true),
    StructField("value", model.valueSchema, nullable = true)))

  private[store] def opToRow[V](model: GraphModel[V], op: GraphOp[V], seq: Long): Row =
    op match {
      case GraphOp.NewNode(id, v) =>
        Row(seq, "new", id, null, null, model.kindOf(v), model.toValueRow(v))
      case GraphOp.SetValue(id, v) =>
        Row(seq, "set", id, null, null, model.kindOf(v), model.toValueRow(v))
      case GraphOp.AddTarget(s, d) => Row(seq, "add", null, s, d, null, null)
      case GraphOp.RemoveTarget(s, d) => Row(seq, "rmt", null, s, d, null, null)
      case GraphOp.RemoveNode(id) => Row(seq, "rm", id, null, null, null, null)
    }

  private[store] def rowToOp[V](model: GraphModel[V], r: Row): GraphOp[V] =
    r.getString(1) match {
      case "new" => GraphOp.NewNode(r.getLong(2),
        model.fromValueRow(r.getString(5), r.getStruct(6)))
      case "set" => GraphOp.SetValue(r.getLong(2),
        model.fromValueRow(r.getString(5), r.getStruct(6)))
      case "add" => GraphOp.AddTarget(r.getLong(3), r.getLong(4))
      case "rmt" => GraphOp.RemoveTarget(r.getLong(3), r.getLong(4))
      case "rm" => GraphOp.RemoveNode(r.getLong(2))
    }
}
