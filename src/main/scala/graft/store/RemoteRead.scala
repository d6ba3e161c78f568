package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import graft.graph.{GraphModel, GraphState, IndexKey}

/** Thin-client READ shipping — the serve/client read-action analog
  * (/root/reference/library/GraphDB/Client.hs:71-117 runs every read
  * action as a request/response round-trip against the server;
  * Server.hs:17-94 dispatches it on a session worker). The Spark-suitable
  * form keeps the reference's thin-client contract — the client holds ZERO
  * graph state — but serves from a [[GraphReplica]] follower instead of
  * the writer's worker pool. A request travels one of two ways: through a
  * shared-storage inbox like [[RemoteWrite]]'s (the deployment's natural
  * medium when clients are jobs sharing distributed storage), laid out as
  * below, or over a socket ([[Wire]]), where one frame carries the same
  * request JSON and the reply carries the same parquet answer, in memory:
  *
  * {{{
  *   <dir>/<clientId>-<seq>.req.json    one read request (atomic publish)
  *   <dir>/acks/batches/<reqId>/        the answers of one poll to one op:
  *                                      one parquet file led by a _reqId
  *                                      column (atomic dir rename, named
  *                                      after the group's first request)
  *   <dir>/acks/<reqId>.ptr.json        the request's pointer to its batch
  *   <dir>/acks/<reqId>.err.json        typed refusal (unknown op etc.)
  * }}}
  *
  * Request ops mirror the served read surface: `getValues` (batched —
  * the single-id round-trip of the reference is its scalability defect,
  * so the protocol is batched-first and `getValue` is the 1-element
  * case), `getTargets` under an index key, `targets`, `sources`,
  * `getStats`, and the replica's `watermark`. The server answers them
  * with the replica state's own reads: each op kind of a poll is one
  * [[GraphState]] read over all of its requests (one probe for the point
  * reads, no Catalyst pass and, over bases the driver holds, no Spark
  * job), written as one parquet file on the
  * driver ([[OpBatchFile]]) — the exact value fidelity of the checkpoint
  * format, so any `valueSchema` round-trips. The client reads its rows
  * back from that file on the driver ([[OpBatchFile.read]], no Spark
  * job): still the per-action round trip of the reference, which is why a
  * read-heavy deployment runs a local [[GraphReplica]] instead; this
  * exists so the THIN-client posture has a runnable analog too.
  *
  * Consistency: answers reflect the serving replica's state at dispatch —
  * WAL-prefix-ordered, eventually consistent, same as any follower read.
  */
object RemoteRead {

  /** One client's view of a completed read — either the answer rows or
    * the server's typed refusal message.
    */
  final case class ReadAck(reqId: String, result: Either[String, Seq[Row]])

  // ------------------------------------------------------------- client side

  /** The read surface of a thin client, built on one transport call: the
    * client holds no graph state and runs no Spark job (the reference's
    * typed thin client, Client.hs:53-60). A subclass supplies [[call]],
    * which sends one request (its JSON fields after the reqId) and returns
    * the answer rows with their leading `_reqId` column dropped.
    */
  abstract class Reader[V](model: GraphModel[V]) {
    protected def call(body: String, timeoutMs: Long): ReadAck

    /** Batched point reads (covers the reference's getValue as the
      * 1-element case). Returns id → value for ids that exist.
      */
    def getValues(ids: Seq[Long], timeoutMs: Long = 30000L): Map[Long, V] =
      rows(call(s""""op": "getValues", "ids": [${ids.mkString(", ")}]""", timeoutMs))
        .map(r => r.getLong(0) -> model.fromValueRow(r.getString(1), r.getStruct(2)))
        .toMap

    /** getValue — throws on an unknown id, the session contract. */
    def getValue(id: Long, timeoutMs: Long = 30000L): V =
      getValues(Seq(id), timeoutMs).getOrElse(id,
        throw new NoSuchElementException(s"unknown node id $id"))

    /** getTargets under an index key (distinct), served from the index. */
    def getTargets(id: Long, k: IndexKey, timeoutMs: Long = 30000L): Seq[Long] =
      rows(call(s""""op": "getTargets", "id": $id, """ +
        s""""kkind": "${GraphStore.esc(k.kind)}", "key": "${GraphStore.esc(k.key)}"""",
        timeoutMs)).map(_.getLong(0)).sorted

    /** traverseTargets — distinct targets regardless of key. */
    def targets(id: Long, timeoutMs: Long = 30000L): Seq[Long] =
      rows(call(s""""op": "targets", "id": $id""", timeoutMs)).map(_.getLong(0)).sorted

    /** traverseSources. */
    def sources(id: Long, timeoutMs: Long = 30000L): Seq[Long] =
      rows(call(s""""op": "sources", "id": $id""", timeoutMs)).map(_.getLong(0)).sorted

    /** getStats of the closure reachable from `from`. */
    def getStats(from: Long = 0L, timeoutMs: Long = 30000L): (Long, Long, Long) = {
      val r = rows(call(s""""op": "getStats", "id": $from""", timeoutMs)).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    /** The serving replica's WAL-coverage stamp (GraphReplica.watermark)
      * — fetched once when a mid-txn-read snapshot is constructed, so the
      * write server can refuse stale reads at apply time.
      */
    def watermark(timeoutMs: Long = 30000L): (Long, Long) = {
      val r = rows(call(s""""op": "watermark"""", timeoutMs)).head
      (r.getLong(0), r.getLong(1))
    }

    private def rows(ack: ReadAck) = ack.result match {
      case Right(rows) => rows
      case Left(err) => throw new NoSuchElementException(
        s"read ${ack.reqId} refused: $err")
    }
  }

  /** Inbox read client: publishes each request as a file in `dir` and
    * awaits its answer there. `spark` only supplies the parquet settings
    * answers are read with.
    */
  final class Client[V](spark: SparkSession, model: GraphModel[V],
      dir: String, clientId: String) extends Reader[V](model) {
    require(clientId.matches("[A-Za-z0-9_-]+"),
      s"clientId '$clientId' must be [A-Za-z0-9_-]+ (it names request files)")
    private val base = Paths.get(dir)
    Files.createDirectories(base)
    private var seq: Long = {
      // answered/ holds archived request files — a restarted client must
      // not reuse a seq whose request the server already consumed. Past
      // the retention bound those files compact into the _seq.json
      // high-water map (retention()), so this scan stays O(recent), not
      // O(all requests ever shipped)
      val compacted = Try(Files.readString(base.resolve("answered").resolve("_seq.json")))
        .toOption.flatMap(GraphStore.jsonField(_, clientId))
        .flatMap(s => Try(s.toLong + 1).toOption)
      GraphStore.nextSeq(clientId, Seq(base, base.resolve("acks"), base.resolve("answered")),
        compacted.getOrElse(0L))
    }

    protected def call(body: String, timeoutMs: Long): ReadAck = {
      require(seq < 1000000L,
        s"client '$clientId' exceeded 10^6 requests; use a new clientId")
      val reqId = f"$clientId-$seq%06d"
      GraphStore.writeJsonAtomic(base.resolve(s"$reqId.req.json"),
        s"""{"reqId": "$reqId", $body}""")
      seq += 1
      await(reqId, timeoutMs)
    }

    /** Block until the server answers `reqId`: a typed refusal
      * (`.err.json`), or a pointer (`.ptr.json`) into the batch dir that
      * answers the poll's requests of one op, whose rows for this request
      * (the `_reqId` column, dropped) are the answer. The batch is read on
      * this thread with the schema its writer stored in the file.
      */
    def await(reqId: String, timeoutMs: Long = 30000L): ReadAck = {
      val errFile = base.resolve("acks").resolve(s"$reqId.err.json")
      val ptrFile = base.resolve("acks").resolve(s"$reqId.ptr.json")
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (System.nanoTime() < deadline) {
        if (Files.exists(errFile)) {
          return ReadAck(reqId, Left(GraphStore.jsonField(Files.readString(errFile), "error")
            .getOrElse("unknown error")))
        }
        if (Files.exists(ptrFile)) {
          val rel = GraphStore.jsonField(Files.readString(ptrFile), "batch").getOrElse(
            throw new IllegalStateException(s"malformed pointer answer for $reqId"))
          val batch = base.resolve("acks").resolve(rel)
          return ReadAck(reqId, Right(dropReqId(
            OpBatchFile.read(spark, None, batch, keep = _.getString(0) == reqId))))
        }
        Thread.sleep(10L)
      }
      throw new java.util.concurrent.TimeoutException(
        s"no answer for $reqId within ${timeoutMs}ms")
    }
  }

  /** Answer rows without their leading `_reqId` column. */
  private[store] def dropReqId(rows: Seq[Row]): Seq[Row] =
    rows.map(r => Row.fromSeq(r.toSeq.tail))

  // ------------------------------------------------------------- server side

  /** Most distinct ids one getValues request may carry. */
  private val MaxRequestIds = 100000

  /** Most ids one poll reads. A poll's getValues ids are tested by one
    * probe (and ride in its task closure where it runs a job) and its
    * answers are built on the driver, so a
    * poll takes pending requests in name order while their ids fit, and
    * always at least one; the rest wait for the next poll.
    */
  private val PollIdBudget = 1000000

  /** Test-only fault injection: the next batch publish throws AFTER the
    * atomic batch-dir move but BEFORE any pointer write — the
    * orphaned-batch-dir window a group failure must sweep.
    */
  private[store] var failNextBatchPublish: Boolean = false

  /** A parsed request: its op, the ids it reads, and getTargets' key. */
  private final case class Read(reqId: String, op: String, ids: Seq[Long],
      key: Option[IndexKey] = None)

  private def parse(reqId: String, req: String): Read = {
    // unescaped: a key containing quotes must match the index verbatim
    def field(k: String) = GraphStore.jsonField(req, k).getOrElse(
      throw new IllegalArgumentException(s"read request has no '$k'"))
    field("op") match {
      case "getValues" =>
        val ids = GraphStore.jsonLongs(req, "ids").distinct
        require(ids.size <= MaxRequestIds, "getValues request exceeds 100k ids")
        Read(reqId, "getValues", ids)
      case "getTargets" => Read(reqId, "getTargets", Seq(field("id").toLong),
        Some(IndexKey(field("kkind"), field("key"))))
      case op @ ("targets" | "sources") => Read(reqId, op, Seq(field("id").toLong))
      case "getStats" => Read(reqId, "getStats", Seq(GraphStore.jsonField(req, "id").fold(0L)(_.toLong)))
      case "watermark" => Read(reqId, "watermark", Nil)
      case other => throw new IllegalArgumentException(s"unknown read op '$other'")
    }
  }

  private def answerSchema(columns: Seq[StructField]): StructType =
    StructType(StructField("_reqId", StringType, nullable = false) +: columns)

  /** Answer one request `req` (the JSON of a request file) from the
    * replica's current state, in memory: [[parse]] and [[answer]] as a
    * poll runs them, the rows encoded as one [[OpBatchFile]] payload led
    * by `_reqId`. A malformed request throws, the caller's typed refusal.
    */
  private[store] def answerOne[V](replica: GraphReplica[V], req: String): Array[Byte] = {
    val read = parse(GraphStore.jsonField(req, "reqId").getOrElse(""), req)
    val st = replica.currentState
    val (columns, rows) = answer(replica, st, read.op, Seq(read))
    OpBatchFile.encode(st.spark, answerSchema(columns), rows)
  }

  private def longs(names: String*): Seq[StructField] =
    names.map(StructField(_, LongType, nullable = false))

  /** The answer columns of one op and the rows answering `reads` (all of
    * that op), each row led by its request's id. Every op kind is ONE
    * GraphState read over all of its requests: one probe for the point
    * reads, one BFS per distinct root for getStats.
    */
  private def answer[V](replica: GraphReplica[V], st: GraphState[V], op: String,
      reads: Seq[Read]): (Seq[StructField], Seq[Row]) = op match {
    case "getValues" =>
      val values = st.getValues(reads.flatMap(_.ids))
      (GraphState.nodesSchema(st.model).fields.toSeq,
        for (r <- reads; id <- r.ids; v <- values.get(id))
          yield Row(r.reqId, id, st.model.kindOf(v), st.model.toValueRow(v)))
    case "getTargets" =>
      val hits = st.getTargets(reads.map(r => r.ids.head -> r.key.get))
      (longs("id"), for (r <- reads; id <- hits.getOrElse(r.ids.head -> r.key.get, Nil))
        yield Row(r.reqId, id))
    case "targets" | "sources" =>
      val roots = reads.map(_.ids.head)
      val hits = if (op == "targets") st.targets(roots) else st.sources(roots)
      (longs("id"), for (r <- reads; id <- hits.getOrElse(r.ids.head, Nil))
        yield Row(r.reqId, id))
    case "getStats" =>
      val stats = reads.map(_.ids.head).distinct.map(from => from -> st.stats(from)).toMap
      (longs("nodes", "edges", "index"), reads.map { r =>
        val (n, e, i) = stats(r.ids.head)
        Row(r.reqId, n, e, i)
      })
    case "watermark" =>
      // the replica state's WAL coverage stamp — what a mid-txn-read
      // snapshot carries so the write server can conflict-check at apply
      // time (RemoteWrite stale-read detection)
      val (eidx, bseq) = replica.watermark
      (longs("eidx", "bseq"), reads.map(r => Row(r.reqId, eidx, bseq)))
  }

  /** Answer the unanswered requests in `dir` from the replica's current
    * state — the read-dispatch loop body (Server.hs:17-69 for reads).
    * Returns the request ids answered this poll: pending requests in name
    * order up to [[PollIdBudget]] ids (at least one); later polls answer
    * the rest. The caller owns freshness: call `replica.catchUp()` before
    * a poll ([[serveWhile]] does so on every poll). ONE server per
    * inbox, like RemoteWrite's owner-only applyPending: concurrent servers
    * would race the batch publish below.
    *
    * Each request is parsed and validated on its own, so a malformed one
    * is its own typed refusal. The rest are grouped by op; each group is
    * one GraphState read ([[answer]]) whose rows go into ONE parquet file
    * written on the driver ([[OpBatchFile]]), and each request gets an
    * atomic `.ptr.json` pointer into it — a burst of N point reads costs
    * one probe per op kind, not N. Answered request files are
    * archived to `answered/` so the poll's inbox listing stays
    * O(pending), not O(all requests ever shipped).
    */
  def answerPending[V](replica: GraphReplica[V], dir: String): Seq[String] =
    answerPoll(replica, dir, PollIdBudget)

  /** [[answerPending]] with the poll's id budget as a parameter. */
  private[store] def answerPoll[V](replica: GraphReplica[V], dir: String,
      idBudget: Int): Seq[String] = {
    val base = Paths.get(dir)
    if (!Files.isDirectory(base)) return Seq.empty
    val acks = base.resolve("acks")
    Files.createDirectories(acks)
    def ptr(reqId: String) = acks.resolve(s"$reqId.ptr.json")
    def err(reqId: String) = acks.resolve(s"$reqId.err.json")
    // a TRANSIENT read failure on a request file must not become a
    // permanent typed refusal + archival: skip the request this poll — it
    // stays in the inbox and the next poll retries
    val pending = GraphStore.listPaths(base)
      .filter(_.getFileName.toString.endsWith(".req.json"))
      .sortBy(_.getFileName.toString)
      .iterator
      .map(p => (p, p.getFileName.toString.stripSuffix(".req.json")))
      .filterNot { case (_, reqId) => Files.exists(ptr(reqId)) || Files.exists(err(reqId)) }
      .flatMap { case (p, reqId) =>
        Try(Files.readString(p)).toOption.map(req => (p, reqId, Try(parse(reqId, req))))
      }
    var ids = 0L
    val taken = pending.zipWithIndex.takeWhile { case ((_, _, read), i) =>
      ids += read.fold(_ => 0, _.ids.size)
      i == 0 || ids <= idBudget
    }.map(_._1).toVector
    if (taken.isEmpty) return Seq.empty
    val st = replica.currentState

    def refuse(reqId: String, e: Throwable): Unit =
      GraphStore.writeJsonAtomic(err(reqId),
        s"""{"reqId": "$reqId", "error": "${GraphStore.esc(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")}"}""")

    // non-throwing by the marker-cleanup discipline: losing the archive
    // move must not wedge the serve loop; the pending filter above keeps
    // correctness either way (an un-archived answered request is skipped)
    def archive(p: Path): Unit = Try {
      val dst = base.resolve("answered")
      Files.createDirectories(dst)
      Files.move(p, dst.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }

    /** One op group → one batch dir plus per-request pointers. The dir is
      * named after the group's FIRST request and that request's pointer is
      * written FIRST, so a same-name dir found here is an orphan of a poll
      * that died before writing ANY pointer (had any pointer been written,
      * the first request would not be pending now), and deleting it is
      * safe. A failure of the read, the write or the publish sweeps the dir
      * when no pointer references it (head's pointer missing ⟺ none
      * exists) and refuses each request still without a pointer, with the
      * cause; a resubmitted request is answered by a later poll.
      */
    def answerGroup(op: String, group: Seq[Read]): Unit = {
      val name = group.head.reqId
      val batch = acks.resolve("batches").resolve(name)
      try {
        val (columns, rows) = answer(replica, st, op, group)
        val staging = base.resolve("_staging").resolve(s"batch-$name")
        GraphStore.deleteRecursively(staging)
        GraphStore.deleteRecursively(batch)
        OpBatchFile.write(st.spark, answerSchema(columns), rows, staging)
        Files.createDirectories(batch.getParent)
        Files.move(staging, batch, StandardCopyOption.ATOMIC_MOVE)
        if (failNextBatchPublish) {
          failNextBatchPublish = false
          throw new RuntimeException("injected batch publish failure (test hook)")
        }
        group.foreach(r => GraphStore.writeJsonAtomic(ptr(r.reqId),
          s"""{"reqId": "${r.reqId}", "batch": "batches/$name"}"""))
      } catch {
        case NonFatal(e) =>
          if (!Files.exists(ptr(name))) Try(GraphStore.deleteRecursively(batch))
          group.filterNot(r => Files.exists(ptr(r.reqId))).foreach(r => refuse(r.reqId, e))
      }
    }

    taken.foreach {
      case (_, reqId, Failure(e)) => refuse(reqId, e)
      case _ => ()
    }
    taken.collect { case (_, _, Success(read)) => read }
      .groupBy(_.op).toSeq.sortBy(_._1)
      .foreach { case (op, group) => answerGroup(op, group) }
    taken.foreach { case (p, _, _) => archive(p) }
    taken.map(_._2)
  }

  /** Retention for answer artifacts — the read-inbox analog of
    * GraphStore.cleanUp, run by the inbox OWNER between polls (never
    * concurrently with answerPending; the one-server contract makes that
    * free). Two reclaims:
    *
    *  1. Orphaned batch dirs. A batch dir is named after its group's head
    *     reqId and the head's pointer is written FIRST (answerPending), so
    *     `batches/<name>` is referenced by SOME pointer iff
    *     `<name>.ptr.json` exists and itself references `batches/<name>`.
    *     A dir failing that check is debris of a poll that died between
    *     the atomic move and the first pointer write (possibly since
    *     re-answered under a different head) — unreferenced now and
    *     forever, safe to sweep. A same-named PENDING request is left for
    *     answerPending's own target-clearing.
    *
    *  2. `answered/` compaction. Archived request files exist only so a
    *     restarted client never reuses a consumed seq; past `maxAnswered`
    *     files they compact into the `_seq.json` per-client high-water
    *     map (written atomically BEFORE the files are deleted, so a crash
    *     mid-compaction loses nothing and the re-run is idempotent). The
    *     client restart scan and this sweep both stay O(recent).
    */
  def retention(dir: String, maxAnswered: Int = 512): Unit = {
    val base = Paths.get(dir)
    val acks = base.resolve("acks")
    val batches = acks.resolve("batches")
    if (Files.isDirectory(batches)) GraphStore.listPaths(batches).foreach { b =>
      val name = b.getFileName.toString
      val ptr = acks.resolve(s"$name.ptr.json")
      val live = Files.exists(ptr) &&
        Try(Files.readString(ptr)).toOption
          .exists(_.contains(s""""batches/$name""""))
      if (!live && !Files.exists(base.resolve(s"$name.req.json")))
        Try(GraphStore.deleteRecursively(b))
    }
    val answered = base.resolve("answered")
    if (Files.isDirectory(answered)) {
      val files = GraphStore.listPaths(answered)
        .filter(_.getFileName.toString.endsWith(".req.json"))
      if (files.size > maxAnswered) {
        val seqFile = answered.resolve("_seq.json")
        val prev: Map[String, Long] =
          if (!Files.exists(seqFile)) Map.empty
          else """"([A-Za-z0-9_-]+)":\s*(\d+)""".r
            .findAllMatchIn(Try(Files.readString(seqFile)).getOrElse(""))
            .map(m => m.group(1) -> m.group(2).toLong).toMap
        val ReqName = """^([A-Za-z0-9_-]+)-(\d+)\.req\.json$""".r
        val highs = files.map(_.getFileName.toString).collect {
          case ReqName(client, s) => client -> s.toLong
        }.groupBy(_._1).map { case (c, ss) => c -> ss.map(_._2).max }
        val merged = (prev.keySet ++ highs.keySet).toSeq.sorted.map { c =>
          val hi = math.max(prev.getOrElse(c, -1L), highs.getOrElse(c, -1L))
          s""""$c": $hi"""
        }
        GraphStore.writeJsonAtomic(seqFile, merged.mkString("{", ", ", "}"))
        files.foreach(f => Try(Files.deleteIfExists(f)))
      }
    }
  }

  /** Serve loop: catch the replica up, answer, repeat — the read-side
    * accept loop. Every poll catches up (with nothing new, a directory
    * listing) and runs [[retention]], so answer debris stays bounded over
    * a long-lived inbox.
    */
  def serveWhile[V](replica: GraphReplica[V], dir: String, pollMs: Long = 50L)(
      keepGoing: () => Boolean): Unit =
    while (keepGoing()) {
      replica.catchUp()
      retention(dir)
      answerPending(replica, dir)
      Thread.sleep(pollMs)
    }
}
