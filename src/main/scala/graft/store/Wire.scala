package graft.store

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.graph.{GraphModel, IndexKey}

/** TCP transport for the serve/client protocols — the wire analog of the
  * reference's socket server/client
  * (/root/reference/library/GraphDB/Server.hs:17-94, Client.hs:53-60,
  * Protocol.hs:8-43). The reference frames serialized protocol messages
  * over a socket; here the frames carry the EXACT artifacts of the
  * shared-storage protocols — [[RemoteRead]] request jsons + parquet
  * answers, [[RemoteWrite]] txn dirs + ack jsons — so the wire layer adds
  * TRANSPORT ONLY: request execution, batching, typed refusals, the
  * format-version handshake, and tx-local ref resolution are the same
  * spec-proven code paths, and answer fidelity is parquet's (any
  * `valueSchema` round-trips bit-exactly, including binary columns).
  *
  * Frame layout (both directions):
  * {{{
  *   int32 headerLen, UTF-8 json header,
  *   int32 fileCount, per file:
  *     int32 pathLen, UTF-8 relative path, int64 size, bytes
  * }}}
  * One request frame yields one response frame per connection — the
  * reference's per-session request/response worker loop. Clients pump
  * artifacts between a local inbox dir (where the unmodified
  * [[RemoteRead.Client]] / [[RemoteWrite.Client]] write and poll) and the
  * socket; the server lays received artifacts into its own inbox dirs and
  * drives the existing serving entry points. The socket replaces the
  * shared filesystem; nothing else changes.
  *
  * Scale posture: this is the POINT-SERVING path (driver-bounded answers,
  * like the reference's per-action round trip). Bulk analytics stay on
  * the replica/query path; the wire exists so the reference's thin
  * network client has a faithful, runnable equivalent.
  */
object Wire {

  private val MaxHeaderBytes = 1 << 20
  private val MaxFilesPerFrame = 4096
  private val MaxFileBytes = 256L << 20

  /** Default client ids must be unique per instance: request/txn ids are
    * `clientId-seq` and the server keeps ONE shared inbox per kind, where
    * answerPending skips already-answered ids — two clients sharing a
    * default id would silently receive each other's cached answers.
    */
  private val clientSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def freshClientId(): String =
    s"wire-${ProcessHandle.current.pid}-${clientSeq.incrementAndGet()}"

  private def writeFrame(out: DataOutputStream, header: String,
      files: Seq[(String, Array[Byte])]): Unit = {
    val h = header.getBytes("UTF-8")
    out.writeInt(h.length); out.write(h)
    out.writeInt(files.size)
    files.foreach { case (p, b) =>
      val pb = p.getBytes("UTF-8")
      out.writeInt(pb.length); out.write(pb)
      out.writeLong(b.length.toLong); out.write(b)
    }
    out.flush()
  }

  private def readFrame(in: DataInputStream): (String, Seq[(String, Array[Byte])]) = {
    val hl = in.readInt()
    require(hl >= 0 && hl <= MaxHeaderBytes, s"bad frame header length $hl")
    val hb = new Array[Byte](hl); in.readFully(hb)
    val n = in.readInt()
    require(n >= 0 && n <= MaxFilesPerFrame, s"bad frame file count $n")
    val fs = (0 until n).map { _ =>
      val pl = in.readInt()
      require(pl > 0 && pl <= 4096, s"bad frame path length $pl")
      val pb = new Array[Byte](pl); in.readFully(pb)
      val sz = in.readLong()
      require(sz >= 0 && sz <= MaxFileBytes, s"bad frame file size $sz")
      val b = new Array[Byte](sz.toInt); in.readFully(b)
      (new String(pb, "UTF-8"), b)
    }
    (new String(hb, "UTF-8"), fs)
  }

  /** A received relative path must stay inside the inbox — a malicious
    * peer must not be able to write outside it. */
  private def requireSafe(rel: String): String = {
    require(rel.nonEmpty && !rel.contains("..") && !rel.startsWith("/") &&
      !rel.contains("\\") && !rel.contains("\u0000"),
      s"unsafe path in frame: $rel")
    rel
  }

  private def kindOf(header: String): String =
    GraphStore.jsonField(header, "kind").getOrElse("?")

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(new Runnable { def run(): Unit = body }, name)
    t.setDaemon(true); t.start(); t
  }

  private def regularFilesUnder(dir: Path): Seq[Path] =
    GraphStore.listPaths(dir).flatMap { p =>
      if (Files.isDirectory(p)) regularFilesUnder(p)
      else if (Files.isRegularFile(p)) Seq(p)
      else Seq.empty
    }

  /** Lay received artifacts under `base`, in frame order, each by an
    * atomic move: a read answer's pointer travels after its batch files,
    * and an awaiting client polls only for pointers and refusals, so it
    * never follows a pointer to a half-laid batch.
    */
  private def lay(base: Path, files: Seq[(String, Array[Byte])]): Unit =
    files.foreach { case (rel, bytes) =>
      val t = base.resolve(requireSafe(rel))
      Files.createDirectories(t.getParent)
      val tmp = t.resolveSibling(t.getFileName.toString + ".wiretmp")
      Files.write(tmp, bytes)
      Files.move(tmp, t, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  // ------------------------------------------------------------ server

  /** Serves read frames from `read` and/or write frames against `write`
    * on a loopback TCP port. Per-connection worker threads, one global
    * execution lock (the reference's single-writer discipline; reads
    * share it for simplicity — point reads are sub-second and the lock
    * spans only the serve call, not the socket I/O of OTHER
    * connections' pumps).
    */
  final class Server[V] private[store] (read: Option[GraphReplica[V]],
      write: Option[GraphStore[V]],
      ann: Option[(SparkSession, String)] = None) extends AutoCloseable {

    private val readDir = Files.createTempDirectory("graft-wire-sread-")
    private val writeDir = Files.createTempDirectory("graft-wire-swrite-")
    private val annDir = Files.createTempDirectory("graft-wire-sann-")
    private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
    @volatile private var running = true
    private val execLock = new Object

    def port: Int = server.getLocalPort
    def host: String = InetAddress.getLoopbackAddress.getHostAddress

    private def handleRead(files: Seq[(String, Array[Byte])])
        : Seq[(String, Array[Byte])] = {
      val replica = read.getOrElse(
        throw new IllegalStateException("this server has no read replica"))
      lay(readDir, files)
      val reqIds = files.map(_._1).filter(_.endsWith(".req.json"))
        .map(_.stripSuffix(".req.json"))
      val acks = readDir.resolve("acks")
      def errOf(id: String) = acks.resolve(s"$id.err.json")
      def ptrOf(id: String) = acks.resolve(s"$id.ptr.json")
      // a poll may leave requests past its id budget for the next one
      while (!reqIds.forall(id => Files.exists(errOf(id)) || Files.exists(ptrOf(id))) &&
          RemoteRead.answerPending(replica, readDir.toString).nonEmpty) ()
      reqIds.flatMap { id =>
        val (err, ptr) = (errOf(id), ptrOf(id))
        if (Files.exists(err)) Seq((s"acks/$id.err.json", Files.readAllBytes(err)))
        else if (!Files.exists(ptr)) Seq.empty
        else {
          // a pointer answer references a shared batch dir — ship the
          // batch alongside so the client's unmodified pointer-follow
          // finds it locally (REPLACE_EXISTING makes re-ships idempotent)
          val rel = GraphStore.jsonField(Files.readString(ptr), "batch").getOrElse(
            throw new IllegalStateException(s"malformed pointer answer for $id"))
          val batch = acks.resolve(requireSafe(rel))
          regularFilesUnder(batch).map(f =>
            (s"acks/$rel/${batch.relativize(f)}", Files.readAllBytes(f))) :+
            ((s"acks/$id.ptr.json", Files.readAllBytes(ptr)))
        }
      }
    }

    private def handleWrite(files: Seq[(String, Array[Byte])])
        : Seq[(String, Array[Byte])] = {
      val store = write.getOrElse(
        throw new IllegalStateException("this server has no write store"))
      // lay each txn dir via staging + one atomic rename — the server-side
      // poll must see a whole txn or nothing (the WAL staged-publish rule)
      val byTxn = files.groupBy(f => requireSafe(f._1).split("/")(0))
      byTxn.foreach { case (dirName, fs) =>
        require(dirName.endsWith(".txn"), s"unexpected write artifact $dirName")
        val staging = writeDir.resolve("_wirestaging").resolve(dirName)
        Try(GraphStore.deleteRecursively(staging))
        lay(staging.getParent, fs.map { case (p, b) => (p, b) })
        val target = writeDir.resolve(dirName)
        if (!Files.exists(target))
          Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      }
      RemoteWrite.applyPending(store, writeDir.toString)
      val txnIds = byTxn.keys.toSeq.map(_.stripSuffix(".txn"))
      val acks = writeDir.resolve("acks")
      txnIds.flatMap { id =>
        val f = acks.resolve(s"$id.json")
        if (Files.exists(f)) Seq((s"acks/$id.json", Files.readAllBytes(f)))
        else Seq.empty
      }
    }

    /** ANN point-serving over the wire: the client ships a query batch as
      * parquet, the server runs the requested serving path against its
      * persisted index dir and ships the top-k answer back as parquet —
      * the RemoteRead shape (request artifacts in, answer artifacts out)
      * for the px63/px65/px66/px67 serving surface, so the IVF read paths
      * are reachable by the thin client without shared storage. The `op`
      * field selects the path: `"quantized"` (default — scalar-int8,
      * optional exact rerank) or `"adc"` (PQ asymmetric-distance, px66;
      * with `rerank` the px67 prune+refine form). Non-positive p1/nprobe
      * self-size from the index (Similarity.probeKnobs) and a negative
      * adc rerank self-sizes the refine budget (Similarity.autoRerank) —
      * the measured sizing rules ride the wire too. Answer fidelity is
      * parquet's, like every other frame.
      */
    private def handleAnn(header: String, files: Seq[(String, Array[Byte])])
        : Seq[(String, Array[Byte])] = {
      val (spark, idxDir) = ann.getOrElse(
        throw new IllegalStateException("this server has no ann index"))
      def str(k: String): Option[String] =
        (s""""$k":\\s*"([A-Za-z0-9_-]+)"""").r.findFirstMatchIn(header)
          .map(_.group(1))
      def num(k: String, default: Int): Int =
        (s""""$k":\\s*(-?\\d+)""").r.findFirstMatchIn(header)
          .map(_.group(1).toInt).getOrElse(default)
      val reqId = str("reqId").getOrElse(
        throw new IllegalArgumentException("ann frame missing reqId"))
      val idCol = str("idCol").getOrElse("vec_id")
      val vecCol = str("vecCol").getOrElse("embedding")
      val base = annDir.resolve(reqId)
      Try(GraphStore.deleteRecursively(base))
      lay(base, files)
      require(Files.isDirectory(base.resolve("queries")),
        "ann frame carried no queries/ parquet")
      val queries = spark.read.parquet(base.resolve("queries").toString)
      val answer = str("op").getOrElse("quantized") match {
        case "quantized" => graft.pipeline.Similarity.quantizedTopKFromIndex(
          spark, idxDir, queries,
          idCol, vecCol, k = num("k", 10), p1 = num("p1", 2),
          nprobe = num("nprobe", 4), rerank = num("rerank", 0))
        case "adc" => graft.pipeline.Similarity.pqAdcTopKFromIndex(
          spark, idxDir, queries,
          idCol, vecCol, k = num("k", 10), p1 = num("p1", 2),
          nprobe = num("nprobe", 4), rerank = num("rerank", 0))
        case other => throw new IllegalArgumentException(
          s"unknown ann op '$other' (quantized | adc)")
      }
      answer.coalesce(1).write.mode("overwrite")
        .parquet(base.resolve("answer").toString)
      val ansDir = base.resolve("answer")
      regularFilesUnder(ansDir).map(f =>
        (s"answer/${ansDir.relativize(f)}", Files.readAllBytes(f)))
    }

    private def handle(header: String, files: Seq[(String, Array[Byte])])
        : (String, Seq[(String, Array[Byte])]) = execLock.synchronized {
      kindOf(header) match {
        case "read" => ("""{"kind": "ack"}""", handleRead(files))
        case "write" => ("""{"kind": "ack"}""", handleWrite(files))
        case "ann" => ("""{"kind": "ack"}""", handleAnn(header, files))
        case k => throw new IllegalArgumentException(s"unknown frame kind '$k'")
      }
    }

    daemon("graft-wire-accept") {
      while (running) Try(server.accept()).foreach { sock =>
        daemon(s"graft-wire-conn-${sock.getPort}") {
          val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
          val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
          try {
            var alive = true
            while (running && alive) {
              // a frame that violates the framing bounds (header/file-count/
              // file-size limits) leaves the byte stream desynchronized —
              // there is no way to find the next frame boundary — so the
              // refusal is written and THIS connection closes; the accept
              // loop (and every other connection) lives on. A truncated
              // frame (peer died mid-write) surfaces as EOF below: nothing
              // to answer, and no inbox artifact was laid (files only land
              // after the whole frame parses).
              val frame =
                try Some(readFrame(in))
                catch {
                  case e: IllegalArgumentException =>
                    writeFrame(out, s"""{"kind": "error", "message": "${GraphStore.esc(
                      s"malformed frame: ${Option(e.getMessage).getOrElse("")}")}"}""",
                      Seq.empty)
                    alive = false
                    None
                }
              frame.foreach { case (h, fs) =>
                val resp =
                  try handle(h, fs)
                  catch {
                    case e: Throwable =>
                      (s"""{"kind": "error", "message": "${GraphStore.esc(
                        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")}"}""",
                        Seq.empty[(String, Array[Byte])])
                  }
                writeFrame(out, resp._1, resp._2)
              }
            }
          } catch {
            case _: EOFException => ()
            case _: Throwable => ()
          } finally Try(sock.close())
        }
      }
    }

    def close(): Unit = { running = false; Try(server.close()); () }
  }

  def serveRead[V](replica: GraphReplica[V]): Server[V] =
    new Server(Some(replica), None)

  def serveWrite[V](store: GraphStore[V]): Server[V] =
    new Server(None, Some(store))

  def serve[V](replica: GraphReplica[V], store: GraphStore[V]): Server[V] =
    new Server(Some(replica), Some(store))

  /** Serve quantized ANN top-k over the wire from a persisted two-level
    * index dir. The session must carry the serving configuration of
    * [[graft.GraftSession]] (see Similarity.twoLevelTopKFromIndex) or
    * every served scan silently degrades to a full read.
    */
  def serveAnn(spark: SparkSession, indexDir: String): Server[Nothing] =
    new Server[Nothing](None, None, Some((spark, indexDir)))

  // ------------------------------------------------------------ clients

  /** Shared pump plumbing: watch a local inbox for fresh artifacts, ship
    * them as one frame, lay the response's ack artifacts back into the
    * inbox (where the wrapped client's unmodified await() finds them).
    */
  private final class Pump(dir: Path, host: String, port: Int, kind: String,
      list: () => Seq[String],
      load: String => Seq[(String, Array[Byte])]) extends AutoCloseable {
    private val sock = new Socket(host, port)
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val shipped = mutable.Set.empty[String]
    @volatile private var running = true
    @volatile private var failure: Option[Throwable] = None

    private def pumpOnce(): Unit =
      // names are filtered BEFORE any bytes are read — an already-shipped
      // artifact costs a directory listing entry per poll, not a re-read
      list().filterNot(shipped.contains).foreach { name =>
        val files = load(name)
        val (h, ackFiles) = synchronized {
          writeFrame(out, s"""{"kind": "$kind"}""", files)
          readFrame(in)
        }
        if (kindOf(h) == "error") {
          val msg = GraphStore.jsonField(h, "message").getOrElse("unknown")
          // a server-side failure stops the pump; the wrapped client's
          // next await surfaces it via checkFailed with the real cause
          throw new IllegalStateException(s"server refused frame: $msg")
        } else lay(dir, ackFiles)
        shipped += name
      }

    private val t = daemon("graft-wire-pump") {
      while (running) {
        try pumpOnce()
        catch {
          case e: Throwable if running => failure = Some(e); running = false
          case _: Throwable => ()
        }
        if (running) Thread.sleep(5L)
      }
    }

    def checkFailed(): Unit =
      failure.foreach(e => throw new IllegalStateException(
        s"wire pump failed: ${e.getMessage}", e))

    def close(): Unit = { running = false; Try(sock.close()); () }
  }

  /** Thin network READ client — [[RemoteRead.Client]] behind a socket.
    * The wrapped client is byte-for-byte the shared-storage one; this
    * class only moves its artifacts over TCP.
    */
  final class ReadClient[V](spark: SparkSession, model: GraphModel[V],
      host: String, port: Int, clientId: String = Wire.freshClientId())
      extends AutoCloseable {
    private val dir = Files.createTempDirectory("graft-wire-cread-")
    private val inner = new RemoteRead.Client[V](spark, model, dir.toString, clientId)
    private val pump = new Pump(dir, host, port, "read",
      list = () => GraphStore.listPaths(dir)
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".req.json"))
        .map(_.getFileName.toString),
      load = name => Seq((name, Files.readAllBytes(dir.resolve(name)))))

    private def guarded[A](body: => A): A =
      try body
      catch { case e: Throwable => pump.checkFailed(); throw e }

    def getValues(ids: Seq[Long], timeoutMs: Long = 30000L): Map[Long, V] =
      guarded(inner.getValues(ids, timeoutMs))
    def getValue(id: Long, timeoutMs: Long = 30000L): V =
      guarded(inner.getValue(id, timeoutMs))
    def getTargets(id: Long, k: IndexKey, timeoutMs: Long = 30000L): Seq[Long] =
      guarded(inner.getTargets(id, k, timeoutMs))
    def targets(id: Long, timeoutMs: Long = 30000L): Seq[Long] =
      guarded(inner.targets(id, timeoutMs))
    def sources(id: Long, timeoutMs: Long = 30000L): Seq[Long] =
      guarded(inner.sources(id, timeoutMs))
    def getStats(from: Long = 0L, timeoutMs: Long = 30000L): (Long, Long, Long) =
      guarded(inner.getStats(from, timeoutMs))

    /** This client as the snapshot leg of a WriteClient's mid-txn reads
      * (`writeClient.submitWithReads(readClient.txnReads) { txn => ... }`).
      */
    def txnReads: RemoteWrite.TxnReads[V] =
      RemoteWrite.TxnReads.fromRemoteRead(inner)

    def close(): Unit = pump.close()
  }

  /** Thin network WRITE client — [[RemoteWrite.Client]] behind a socket:
    * the full shipped-transaction protocol (tx-local negative ordinals,
    * atomicity, version handshake) rides the wire untouched.
    */
  final class WriteClient[V](spark: SparkSession, model: GraphModel[V],
      host: String, port: Int, clientId: String = Wire.freshClientId())
      extends AutoCloseable {
    private val dir = Files.createTempDirectory("graft-wire-cwrite-")
    private val inner = new RemoteWrite.Client[V](spark, model, dir.toString, clientId)
    private val pump = new Pump(dir, host, port, "write",
      list = () => GraphStore.listPaths(dir)
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.endsWith(".txn") &&
          Files.exists(p.resolve(RemoteWrite.MetaName)))
        .map(_.getFileName.toString),
      load = name => {
        val p = dir.resolve(name)
        regularFilesUnder(p).map(f =>
          (s"$name/${p.relativize(f)}", Files.readAllBytes(f)))
      })

    def submit(build: RemoteWrite.RemoteTxn[V] => Unit): String =
      inner.submit(build)
    /** Mid-txn reads over the wire: pair with a wire ReadClient's snapshot
      * (RemoteWrite.TxnReads.fromRemoteRead over its wrapped client) — the
      * reference's interleaved read/write txn window, lock-free.
      */
    def submitWithReads(reads: RemoteWrite.TxnReads[V])(
        build: RemoteWrite.RemoteTxn[V] => Unit): String =
      inner.submitWithReads(reads)(build)
    def ack(txnId: String): Option[RemoteWrite.TxnAck] = {
      pump.checkFailed(); inner.ack(txnId)
    }
    def await(txnId: String, timeoutMs: Long = 30000L): RemoteWrite.TxnAck =
      try inner.await(txnId, timeoutMs)
      catch { case e: Throwable => pump.checkFailed(); throw e }

    def close(): Unit = pump.close()
  }

  /** Thin network ANN client: ships a query batch (parquet) as one frame
    * to a [[serveAnn]] server and returns its quantized top-k answer as a
    * DataFrame — the reference client's synchronous per-request round
    * trip, for the IVF-SQ serving surface. One connection per instance;
    * calls are serialized on it (open several clients for concurrency,
    * the RemoteRead posture).
    */
  final class AnnClient(spark: SparkSession, host: String, port: Int)
      extends AutoCloseable {
    private val sock = new Socket(host, port)
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val base = Files.createTempDirectory("graft-wire-cann-")

    /** `op = "quantized"` (scalar-int8 serving, px63/px65) or `"adc"`
      * (PQ asymmetric distance, px66; with rerank the px67 form).
      * Non-positive `p1`/`nprobe` self-size from the server's index;
      * `rerank < 0` on the adc op self-sizes the refine budget from the
      * probed-mass estimate (Similarity.autoRerank) — both sentinels
      * ride the frame as plain numbers.
      */
    def topK(queries: org.apache.spark.sql.DataFrame,
        idCol: String = "vec_id", vecCol: String = "embedding",
        k: Int = 10, p1: Int = 2, nprobe: Int = 4,
        rerank: Int = 0,
        op: String = "quantized"): org.apache.spark.sql.DataFrame = synchronized {
      Seq(idCol, vecCol, op).foreach(c => require(c.matches("[A-Za-z0-9_-]+"),
        s"value '$c' must be [A-Za-z0-9_-]+ (it rides a json header)"))
      val reqId = freshClientId()
      val reqDir = base.resolve(reqId)
      val qDir = reqDir.resolve("queries")
      queries.coalesce(1).write.mode("overwrite").parquet(qDir.toString)
      val files = regularFilesUnder(qDir).map(f =>
        (s"queries/${qDir.relativize(f)}", Files.readAllBytes(f)))
      writeFrame(out,
        s"""{"kind": "ann", "reqId": "$reqId", "idCol": "$idCol", """ +
          s""""vecCol": "$vecCol", "k": $k, "p1": $p1, "nprobe": $nprobe, """ +
          s""""rerank": $rerank, "op": "$op"}""",
        files)
      val (h, ansFiles) = readFrame(in)
      if (kindOf(h) == "error")
        throw new IllegalStateException(s"ann request refused: $h")
      ansFiles.foreach { case (rel, bytes) =>
        require(rel.startsWith("answer/"), s"unexpected ann answer artifact $rel")
        val t = reqDir.resolve(requireSafe(rel))
        Files.createDirectories(t.getParent)
        Files.write(t, bytes)
      }
      spark.read.parquet(reqDir.resolve("answer").toString)
    }

    def close(): Unit = { Try(sock.close()); () }
  }
}
