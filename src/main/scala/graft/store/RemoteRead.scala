package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.functions.Param
import graft.graph.{GraphModel, IndexKey}

/** Thin-client READ shipping — the serve/client read-action analog
  * (/root/reference/library/GraphDB/Client.hs:71-117 runs every read
  * action as a request/response round-trip against the server;
  * Server.hs:17-94 dispatches it on a session worker). The Spark-suitable
  * form keeps the reference's thin-client contract — the client holds ZERO
  * graph state — but serves from a [[GraphReplica]] follower instead of
  * the writer's worker pool, and transports over the same shared-storage
  * inbox as [[RemoteWrite]] (the deployment's natural medium; a bespoke
  * socket protocol is Spark Connect's job):
  *
  * {{{
  *   <dir>/<clientId>-<seq>.req.json    one read request (atomic publish)
  *   <dir>/acks/<reqId>/                parquet answer (atomic dir rename;
  *                                      _SUCCESS inside ⇔ complete)
  *   <dir>/acks/<reqId>.err.json        typed refusal (unknown id etc.)
  * }}}
  *
  * Request ops mirror the served read surface: `getValues` (batched —
  * the single-id round-trip of the reference is its scalability defect,
  * so the protocol is batched-first and `getValue` is the 1-element
  * case), `getTargets` under an index key, `targets`, `sources`,
  * `getStats`. Answers are parquet (the exact value fidelity of the
  * checkpoint format — any `valueSchema` round-trips), one Spark job per
  * request on each side: that IS the per-action round-trip cost model of
  * the reference, which is why a read-heavy deployment runs a local
  * [[GraphReplica]] instead; this exists so the THIN-client posture has a
  * runnable analog too.
  *
  * Consistency: answers reflect the serving replica's state at dispatch —
  * WAL-prefix-ordered, eventually consistent, same as any follower read.
  */
object RemoteRead {

  /** One client's view of a completed read — either the answer DataFrame
    * or the server's typed refusal message.
    */
  final case class ReadAck(reqId: String, result: Either[String, DataFrame])

  private def writeJsonAtomic(target: Path, json: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\r\n]", " ")

  // ------------------------------------------------------------- client side

  /** Read client: ships read requests, awaits parquet answers. `spark` is
    * used only to READ answers — the client runs no graph logic at all
    * (the reference's typed thin client, Client.hs:53-60).
    */
  final class Client[V](spark: SparkSession, model: GraphModel[V],
      dir: String, clientId: String) {
    require(clientId.matches("[A-Za-z0-9_-]+"),
      s"clientId '$clientId' must be [A-Za-z0-9_-]+ (it names request files)")
    private val base = Paths.get(dir)
    Files.createDirectories(base)
    private val mySeq = s"""^${java.util.regex.Pattern.quote(clientId)}-(\\d+)""".r
    private var seq: Long = {
      def seqsIn(p: Path): Seq[Long] =
        if (!Files.isDirectory(p)) Seq.empty
        else GraphStore.listPaths(p)
          .flatMap(f => mySeq.findFirstMatchIn(f.getFileName.toString)
            .flatMap(m => Try(m.group(1).toLong).toOption))
      // answered/ holds archived request files — a restarted client must
      // not reuse a seq whose request the server already consumed. Past
      // the retention bound those files compact into the _seq.json
      // high-water map (retention()), so this scan stays O(recent), not
      // O(all requests ever shipped)
      val compacted: Option[Long] = {
        val f = base.resolve("answered").resolve("_seq.json")
        if (!Files.exists(f)) None
        else ("\"" + java.util.regex.Pattern.quote(clientId) + "\":\\s*(\\d+)").r
          .findFirstMatchIn(Try(Files.readString(f)).getOrElse(""))
          .flatMap(m => Try(m.group(1).toLong).toOption)
      }
      (seqsIn(base) ++ seqsIn(base.resolve("acks")) ++
        seqsIn(base.resolve("answered")) ++ compacted)
        .maxOption.fold(0L)(_ + 1L)
    }

    private def submit(body: String): String = {
      require(seq < 1000000L,
        s"client '$clientId' exceeded 10^6 requests; use a new clientId")
      val reqId = f"$clientId-$seq%06d"
      writeJsonAtomic(base.resolve(s"$reqId.req.json"),
        s"""{"reqId": "$reqId", $body}""")
      seq += 1
      reqId
    }

    /** Batched point reads (covers the reference's getValue as the
      * 1-element case). Returns id → value for ids that exist.
      */
    def getValues(ids: Seq[Long], timeoutMs: Long = 30000L): Map[Long, V] = {
      val reqId = submit(
        s""""op": "getValues", "ids": [${ids.mkString(", ")}]""")
      rows(await(reqId, timeoutMs))
        .map(r => r.getLong(0) -> model.fromValueRow(r.getString(1), r.getStruct(2)))
        .toMap
    }

    /** getValue — throws on an unknown id, the session contract. */
    def getValue(id: Long, timeoutMs: Long = 30000L): V =
      getValues(Seq(id), timeoutMs).getOrElse(id,
        throw new NoSuchElementException(s"unknown node id $id"))

    /** getTargets under an index key (distinct), served from the index. */
    def getTargets(id: Long, k: IndexKey, timeoutMs: Long = 30000L): Seq[Long] = {
      val reqId = submit(s""""op": "getTargets", "id": $id, """ +
        s""""kkind": "${esc(k.kind)}", "key": "${esc(k.key)}"""")
      rows(await(reqId, timeoutMs)).map(_.getLong(0)).sorted
    }

    /** traverseTargets — distinct targets regardless of key. */
    def targets(id: Long, timeoutMs: Long = 30000L): Seq[Long] = {
      val reqId = submit(s""""op": "targets", "id": $id""")
      rows(await(reqId, timeoutMs)).map(_.getLong(0)).sorted
    }

    /** traverseSources. */
    def sources(id: Long, timeoutMs: Long = 30000L): Seq[Long] = {
      val reqId = submit(s""""op": "sources", "id": $id""")
      rows(await(reqId, timeoutMs)).map(_.getLong(0)).sorted
    }

    /** getStats of the closure reachable from `from`. */
    def getStats(from: Long = 0L, timeoutMs: Long = 30000L): (Long, Long, Long) = {
      val reqId = submit(s""""op": "getStats", "id": $from""")
      val r = rows(await(reqId, timeoutMs)).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    /** The serving replica's WAL-coverage stamp (GraphReplica.watermark)
      * — fetched once when a mid-txn-read snapshot is constructed, so the
      * write server can refuse stale reads at apply time.
      */
    def watermark(timeoutMs: Long = 30000L): (Long, Long) = {
      val reqId = submit(s""""op": "watermark"""")
      val r = rows(await(reqId, timeoutMs)).head
      (r.getLong(0), r.getLong(1))
    }

    private def rows(ack: ReadAck) = ack.result match {
      case Right(df) => df.collect().toSeq
      case Left(err) => throw new NoSuchElementException(
        s"read ${ack.reqId} refused: $err")
    }

    /** Block until the server answers `reqId`. Three answer forms: a typed
      * refusal (`.err.json`), a dedicated parquet dir (per-request path),
      * or a pointer (`.ptr.json`) into a shared batch dir — the server
      * answers same-op requests of one poll in a single Spark job and
      * splits per-request by the `_reqId` column, so a pointer answer is
      * the batch filtered to this request (schema-exact even when the
      * filter matches zero rows).
      */
    def await(reqId: String, timeoutMs: Long = 30000L): ReadAck = {
      val ansDir = base.resolve("acks").resolve(reqId)
      val errFile = base.resolve("acks").resolve(s"$reqId.err.json")
      val ptrFile = base.resolve("acks").resolve(s"$reqId.ptr.json")
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (System.nanoTime() < deadline) {
        if (Files.exists(errFile)) {
          val msg = """"error":\s*"((?:[^"\\]|\\.)*)"""".r
            .findFirstMatchIn(Files.readString(errFile))
            .map(_.group(1)).getOrElse("unknown error")
          return ReadAck(reqId, Left(msg))
        }
        if (Files.exists(ptrFile)) {
          val rel = """"batch":\s*"((?:[^"\\]|\\.)*)"""".r
            .findFirstMatchIn(Files.readString(ptrFile)).map(_.group(1))
            .getOrElse(throw new IllegalStateException(
              s"malformed pointer answer for $reqId"))
          val batch = base.resolve("acks").resolve(rel)
          return ReadAck(reqId, Right(
            spark.read.parquet(batch.toString)
              .where(col("_reqId") === reqId).drop("_reqId")))
        }
        if (Files.exists(ansDir.resolve("_SUCCESS")))
          return ReadAck(reqId, Right(spark.read.parquet(ansDir.toString)))
        Thread.sleep(10L)
      }
      throw new java.util.concurrent.TimeoutException(
        s"no answer for $reqId within ${timeoutMs}ms")
    }
  }

  // ------------------------------------------------------------- server side

  /** Field extractor over the flat request JSON (inverse of the client's
    * esc(): unescape quote then backslash — a key containing quotes must
    * match the index verbatim, not its escaped spelling).
    */
  private def fld(req: String, k: String): Option[String] = {
    val r = ("\"" + java.util.regex.Pattern.quote(k) +
      "\":\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|[^,}\\s]+)").r
    r.findFirstMatchIn(req)
      .map(_.group(1).stripPrefix("\"").stripSuffix("\"")
        .replace("\\\"", "\"").replace("\\\\", "\\"))
  }

  /** Total (_reqId, id) pairs one poll may answer in a single batched job:
    * the pairs side is broadcast, so it is driver-bounded by the same
    * contract as RemoteWrite's replay bound — beyond it the poll falls
    * back to per-request answers (each with its own 100k cap). Deployments
    * with bigger/smaller drivers tune it via -Dgraft.read.maxBatchPairs.
    */
  private val MaxBatchPairs: Int =
    sys.props.get("graft.read.maxBatchPairs")
      .flatMap(s => Try(s.toInt).toOption).getOrElse(1000000)

  /** Test-only fault injection: the next [[answerPendingBounded]] batch
    * publish throws AFTER the atomic batch-dir move but BEFORE any pointer
    * write — the orphaned-batch-dir window the fallback must reclaim.
    */
  private[store] var failNextBatchPublish: Boolean = false

  /** Answer every unanswered request in `dir` from the replica's current
    * state — the read-dispatch loop body (Server.hs:17-69 for reads).
    * Returns the request ids answered this poll. The caller owns freshness:
    * interleave `replica.catchUp()` in its serve loop at the staleness
    * budget it wants. ONE server per inbox, like RemoteWrite's owner-only
    * applyPending: concurrent servers would race the batch publish below.
    *
    * Same-op requests are answered in ONE Spark job per op group (the
    * RemoteWrite single-load-poll discipline, one file over): the parsed
    * id lists become a broadcast (_reqId, key) DataFrame, one equi-join
    * against the replica state writes one batch parquet, and each request
    * gets an atomic `.ptr.json` pointer into it — so a burst of N point
    * reads costs O(op kinds) jobs, not N. `getStats` (driver-computed),
    * unknown ops, oversized requests, and any batch-level failure take the
    * per-request path, so one bad request never poisons its neighbors.
    * Answered request files are archived to `answered/` so the poll's
    * inbox listing stays O(pending), not O(all requests ever shipped).
    */
  def answerPending[V](replica: GraphReplica[V], dir: String): Seq[String] =
    answerPendingBounded(replica, dir, MaxBatchPairs)

  /** [[answerPending]] with an explicit batch-pair cap — seam for the
    * oversized-group fallback spec and the ServeBench per-request-path
    * measurement (the production cap is driver-memory-sized).
    */
  private[graft] def answerPendingBounded[V](replica: GraphReplica[V],
      dir: String, maxBatchPairs: Int): Seq[String] = {
    val base = Paths.get(dir)
    if (!Files.isDirectory(base)) return Seq.empty
    val acks = base.resolve("acks")
    Files.createDirectories(acks)
    val pending = GraphStore.listPaths(base)
      .filter(_.getFileName.toString.endsWith(".req.json"))
      .sortBy(_.getFileName.toString)
      .filter { p =>
        val reqId = p.getFileName.toString.stripSuffix(".req.json")
        !Files.exists(acks.resolve(reqId).resolve("_SUCCESS")) &&
          !Files.exists(acks.resolve(s"$reqId.err.json")) &&
          !Files.exists(acks.resolve(s"$reqId.ptr.json"))
      }
    if (pending.isEmpty) return Seq.empty
    val st = replica.currentState
    val spark = st.nodes.sparkSession

    def refuse(reqId: String, e: Throwable): Unit =
      writeJsonAtomic(acks.resolve(s"$reqId.err.json"),
        s"""{"reqId": "$reqId", "error": "${esc(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")}"}""")

    // non-throwing by the marker-cleanup discipline: losing the archive
    // move must not wedge the serve loop; the pending filter above keeps
    // correctness either way (an un-archived answered request is skipped)
    def archive(p: Path): Unit = Try {
      val dst = base.resolve("answered")
      Files.createDirectories(dst)
      Files.move(p, dst.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }

    /** Per-request answer path (fallback + getStats + unknown ops). */
    def answerOne(reqId: String, req: String): Unit = try {
      val answer: DataFrame = fld(req, "op").getOrElse("?") match {
        case "getValues" =>
          // SAME parse + cap as the batch path (answerGroup): the fallback
          // contract is "identical results through either path", so a
          // request with >100k raw but ≤100k distinct ids must be accepted
          // (or refused) identically by both
          val ids = parseIds(req).distinct
          require(ids.size <= 100000, "getValues request exceeds 100k ids")
          if (ids.isEmpty)
            st.nodes.select(col("id"), col("kind"), col("value")).limit(0)
          else {
            // past 10k ids a Param.in set would ship inside every
            // task's plan; a broadcast semi-join scales
            val wanted =
              if (ids.size <= 10000) st.nodes.where(Param.in(col("id"), ids))
              else {
                import spark.implicits._
                st.nodes.join(broadcast(ids.toDF("id")), Seq("id"), "left_semi")
              }
            wanted.select(col("id"), col("kind"), col("value"))
          }
        case "getTargets" =>
          st.index.where(col("src") === fld(req, "id").get.toLong &&
              col("kkind") === fld(req, "kkind").get &&
              col("key") === fld(req, "key").get)
            .select(col("dst").as("id")).distinct()
        case "targets" =>
          st.edges.where(col("src") === fld(req, "id").get.toLong)
            .select(col("dst").as("id")).distinct()
        case "sources" =>
          st.edges.where(col("dst") === fld(req, "id").get.toLong)
            .select(col("src").as("id")).distinct()
        case "getStats" =>
          val (n, e, i) = replica.getStats(fld(req, "id").fold(0L)(_.toLong))
          import spark.implicits._
          Seq((n, e, i)).toDF("nodes", "edges", "index")
        case "watermark" =>
          // the replica state's WAL coverage stamp — what a mid-txn-read
          // snapshot carries so the write server can conflict-check at
          // apply time (RemoteWrite stale-read detection)
          val (we, wb) = replica.watermark
          import spark.implicits._
          Seq((we, wb)).toDF("eidx", "bseq")
        case other =>
          throw new IllegalArgumentException(s"unknown read op '$other'")
      }
      // staged atomic publish, same rule as every other inbox artifact:
      // the client sees a complete answer dir or nothing. A target dir
      // without _SUCCESS is debris from a dead server — clear it so the
      // retry succeeds instead of refusing on a name collision.
      val staging = base.resolve("_staging").resolve(reqId)
      val target = acks.resolve(reqId)
      deleteRecursively(staging)
      if (Files.exists(target) && !Files.exists(target.resolve("_SUCCESS")))
        deleteRecursively(target)
      answer.coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
        .parquet(staging.toString)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case scala.util.control.NonFatal(e) => refuse(reqId, e)
    }

    /** Publish one batch answer dir + per-request pointers. Crash-safety
      * of the name: the dir is named after the group's FIRST pending
      * reqId and that request's pointer is written FIRST — so a same-name
      * dir found here is provably an orphan of a poll that died before
      * writing ANY pointer (had any pointer been written, the first
      * request would not be pending now), and deleting it is safe.
      */
    def publishBatch(ans: DataFrame, reqIds: Seq[String]): Unit = {
      val name = reqIds.head
      val batches = acks.resolve("batches")
      Files.createDirectories(batches)
      val staging = base.resolve("_staging").resolve(s"batch-$name")
      val target = batches.resolve(name)
      deleteRecursively(staging)
      deleteRecursively(target)
      ans.coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
        .parquet(staging.toString)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      if (failNextBatchPublish) {
        failNextBatchPublish = false
        throw new RuntimeException("injected batch publish failure (test hook)")
      }
      reqIds.foreach { r =>
        writeJsonAtomic(acks.resolve(s"$r.ptr.json"),
          s"""{"reqId": "$r", "batch": "batches/$name"}""")
      }
    }

    /** One op group → one join job, or the per-request fallback when the
      * group is oversized or the batch job itself fails.
      */
    def answerGroup(op: String, group: Seq[(String, String)]): Unit = {
      import spark.implicits._
      // per-request parse/validate first: an oversized or malformed
      // request is its OWN typed refusal, never a group-wide error
      val parsed = group.map { case (reqId, req) =>
        (reqId, req, Try {
          op match {
            case "getValues" =>
              val ids = parseIds(req).distinct
              require(ids.size <= 100000, "getValues request exceeds 100k ids")
              ids.map(id => (reqId, id, "", ""))
            case "getTargets" =>
              Seq((reqId, fld(req, "id").get.toLong,
                fld(req, "kkind").get, fld(req, "key").get))
            case _ => // targets | sources
              Seq((reqId, fld(req, "id").get.toLong, "", ""))
          }
        })
      }
      parsed.foreach {
        case (reqId, _, scala.util.Failure(e)) => refuse(reqId, e)
        case _ => ()
      }
      val ok = parsed.collect { case (reqId, req, scala.util.Success(rows)) =>
        (reqId, req, rows) }
      if (ok.isEmpty) return
      if (ok.iterator.map(_._3.size).sum > maxBatchPairs) {
        ok.foreach { case (reqId, req, _) => answerOne(reqId, req) }
        return
      }
      val attempt = Try {
        val pairs = ok.flatMap(_._3)
        val ans: DataFrame = op match {
          case "getValues" =>
            val wanted = broadcast(pairs.map(p => (p._1, p._2))
              .toDF("_reqId", "id"))
            st.nodes.join(wanted, Seq("id"), "inner")
              .select(col("_reqId"), col("id"), col("kind"), col("value"))
          case "getTargets" =>
            val keys = broadcast(pairs.toDF("_reqId", "src", "kkind", "key"))
            st.index.join(keys, Seq("src", "kkind", "key"), "inner")
              .select(col("_reqId"), col("dst").as("id")).distinct()
          case "targets" =>
            val keys = broadcast(pairs.map(p => (p._1, p._2)).toDF("_reqId", "src"))
            st.edges.join(keys, Seq("src"), "inner")
              .select(col("_reqId"), col("dst").as("id")).distinct()
          case _ => // sources
            val keys = broadcast(pairs.map(p => (p._1, p._2)).toDF("_reqId", "dst"))
            st.edges.join(keys, Seq("dst"), "inner")
              .select(col("_reqId"), col("src").as("id")).distinct()
        }
        publishBatch(ans, ok.map(_._1))
      }
      // batch-level failure (not attributable to one request): fall back
      // to per-request answers so the failure lands on the culprit only
      if (attempt.isFailure) {
        // a failure AFTER the atomic batch-dir move but BEFORE the first
        // pointer write would leak the published dir forever (no pointer
        // will ever reference it, and the fallback answers supersede it).
        // Pointers are written head-first, so head's pointer missing ⟺ no
        // pointer of this group exists — then the dir is provably
        // unreferenced and safe to sweep. Best-effort: a failed delete
        // leaves an orphan for the retention sweep, never a wrong answer.
        if (!Files.exists(acks.resolve(s"${ok.head._1}.ptr.json")))
          Try(deleteRecursively(acks.resolve("batches").resolve(ok.head._1)))
        ok.foreach { case (reqId, req, _) =>
          if (!Files.exists(acks.resolve(s"$reqId.ptr.json")))
            answerOne(reqId, req)
        }
      }
    }

    val BatchableOps = Set("getValues", "getTargets", "targets", "sources")
    // a TRANSIENT read failure on a request file must not become a
    // permanent typed refusal ('unknown read op ?') + archival: skip the
    // request this poll — it stays in the inbox and the next poll retries
    val reqs: Seq[(Path, String, String)] = pending.flatMap { p =>
      val reqId = p.getFileName.toString.stripSuffix(".req.json")
      Try(Files.readString(p)).toOption.map(req => (p, reqId, req))
    }
    val (batchable, individual) = reqs.partition(r =>
      BatchableOps(fld(r._3, "op").getOrElse("?")))
    batchable.groupBy(r => fld(r._3, "op").get).toSeq.sortBy(_._1)
      .foreach { case (op, group) =>
        answerGroup(op, group.map(r => (r._2, r._3)))
      }
    individual.foreach { case (_, reqId, req) => answerOne(reqId, req) }
    reqs.foreach { case (p, _, _) => archive(p) }
    reqs.map(_._2)
  }

  private def parseIds(req: String): Seq[Long] =
    """"ids":\s*\[([^\]]*)\]""".r.findFirstMatchIn(req)
      .map(m => """-?\d+""".r.findAllIn(m.group(1)).map(_.toLong).toSeq)
      .getOrElse(Seq.empty)

  /** Retention for answer artifacts — the read-inbox analog of
    * GraphStore.cleanUp, run by the inbox OWNER between polls (never
    * concurrently with answerPending; the one-server contract makes that
    * free). Two reclaims:
    *
    *  1. Orphaned batch dirs. A batch dir is named after its group's head
    *     reqId and the head's pointer is written FIRST (publishBatch), so
    *     `batches/<name>` is referenced by SOME pointer iff
    *     `<name>.ptr.json` exists and itself references `batches/<name>`.
    *     A dir failing that check is debris of a poll that died between
    *     the atomic move and the first pointer write (possibly since
    *     re-answered under a different head) — unreferenced now and
    *     forever, safe to sweep. A same-named PENDING request is left for
    *     publishBatch's own target-clearing.
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
        Try(deleteRecursively(b))
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
        writeJsonAtomic(seqFile, merged.mkString("{", ", ", "}"))
        files.foreach(f => Try(Files.deleteIfExists(f)))
      }
    }
  }

  /** Serve loop: catch the replica up, answer, repeat — the read-side
    * accept loop. `catchUpEvery` bounds staleness (0 = every poll);
    * [[retention]] runs at the same cadence so answer debris stays
    * bounded over a long-lived inbox.
    */
  def serveWhile[V](replica: GraphReplica[V], dir: String, pollMs: Long = 50L,
      catchUpEvery: Int = 10)(keepGoing: () => Boolean): Unit = {
    var i = 0
    while (keepGoing()) {
      if (catchUpEvery == 0 || i % math.max(1, catchUpEvery) == 0) {
        replica.catchUp()
        retention(dir)
      }
      answerPending(replica, dir)
      Thread.sleep(pollMs)
      i += 1
    }
  }

  /** Recursive delete shared by the store layer — Wire's request-dir
    * cleanup and the specs use it too (a production serving path must not
    * ride a test-named helper, the r16 ADVICE). */
  private[store] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) GraphStore.listPaths(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
