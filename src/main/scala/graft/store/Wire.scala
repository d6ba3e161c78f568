package graft.store

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.UUID

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}

import graft.graph.GraphModel

/** TCP transport for the serve/client protocols — the wire analog of the
  * reference's socket server/client
  * (/root/reference/library/GraphDB/Server.hs:17-94, Client.hs:53-60,
  * Protocol.hs:8-43): each connection gets a worker that answers one
  * request frame with one response frame, as the reference's per-session
  * worker does. A request frame carries the request itself and the
  * response its answer, both in memory:
  *
  *  - '''read''': the request JSON an inbox request file holds. The server
  *    answers it with [[RemoteRead]]'s own parse and answer over the
  *    replica's current state; the answer rows come back as one parquet
  *    payload ([[OpBatchFile.encode]]), so answer fidelity is parquet's
  *    (any `valueSchema` round-trips bit-exactly, binary columns too).
  *  - '''write''': a txn's op rows as one parquet payload plus its meta
  *    (format version, tx-local ordinals, read stamps). The server applies
  *    it with [[RemoteWrite]]'s write core, the one the inbox poll calls,
  *    and the response carries its ack once its WAL batch is durable.
  *  - '''ann''': a query batch as parquet files; the response carries the
  *    top-k answer's parquet files.
  *
  * Frame layout (both directions):
  * {{{
  *   int32 headerLen, UTF-8 json header,
  *   int32 fileCount, per file:
  *     int32 pathLen, UTF-8 name, int64 size, bytes
  * }}}
  * A refusal is a response whose header has kind `error` and a message.
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

  private def writeFrame(out: DataOutputStream, header: String,
      files: Seq[(String, Array[Byte])]): Unit = {
    val h = header.getBytes(UTF_8)
    out.writeInt(h.length); out.write(h)
    out.writeInt(files.size)
    files.foreach { case (p, b) =>
      val pb = p.getBytes(UTF_8)
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
      (new String(pb, UTF_8), b)
    }
    (new String(hb, UTF_8), fs)
  }

  /** The payload named `name` of a frame. */
  private def payload(files: Seq[(String, Array[Byte])], name: String): Array[Byte] =
    files.collectFirst { case (`name`, b) => b }.getOrElse(
      throw new IllegalArgumentException(s"frame has no '$name' payload"))

  /** A received relative path must stay inside its directory — a
    * malicious peer must not be able to write outside it. */
  private def requireSafe(rel: String): String = {
    require(rel.nonEmpty && !rel.contains("..") && !rel.startsWith("/") &&
      !rel.contains("\\") && !rel.contains("\u0000"),
      s"unsafe path in frame: $rel")
    rel
  }

  /** Write received files under `base`, each at its checked path. */
  private def writeUnder(base: Path, files: Seq[(String, Array[Byte])]): Unit =
    files.foreach { case (rel, bytes) =>
      val t = base.resolve(requireSafe(rel))
      Files.createDirectories(t.getParent)
      Files.write(t, bytes)
    }

  /** `dir`'s regular files, named relative to `prefix`. */
  private def filesUnder(prefix: String, dir: Path): Seq[(String, Array[Byte])] = {
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) GraphStore.listPaths(p).flatMap(walk)
      else if (Files.isRegularFile(p)) Seq(p)
      else Seq.empty
    walk(dir).map(f => (s"$prefix/${dir.relativize(f)}", Files.readAllBytes(f)))
  }

  private def kindOf(header: String): String =
    GraphStore.jsonField(header, "kind").getOrElse("?")

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(new Runnable { def run(): Unit = body }, name)
    t.setDaemon(true); t.start(); t
  }

  private val Ack = """{"kind": "ack"}"""

  // ------------------------------------------------------------ server

  /** Serves read frames from `read` and/or write frames against `write`
    * on a loopback TCP port. Per-connection worker threads; write and ANN
    * frames take one global execution lock (the reference's single-writer
    * discipline). Read frames take none: each answers from the replica's
    * current state, an immutable value, so a read never waits for a write
    * in progress.
    */
  final class Server[V] private[store] (read: Option[GraphReplica[V]],
      write: Option[GraphStore[V]],
      ann: Option[(SparkSession, String)] = None) extends AutoCloseable {

    private lazy val annDir = Files.createTempDirectory("graft-wire-sann-")
    private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
    @volatile private var running = true
    private val execLock = new Object

    def port: Int = server.getLocalPort
    def host: String = InetAddress.getLoopbackAddress.getHostAddress

    private def handleRead(files: Seq[(String, Array[Byte])]): Seq[(String, Array[Byte])] = {
      val replica = read.getOrElse(
        throw new IllegalStateException("this server has no read replica"))
      Seq("answer" -> RemoteRead.answerOne(replica, new String(payload(files, "request"), UTF_8)))
    }

    private def handleWrite(files: Seq[(String, Array[Byte])]): Seq[(String, Array[Byte])] = {
      val store = write.getOrElse(
        throw new IllegalStateException("this server has no write store"))
      val ack = RemoteWrite.applyFrame(store,
        new String(payload(files, "meta"), UTF_8), payload(files, "ops"))
      Seq("ack" -> RemoteWrite.ackJson(ack).getBytes(UTF_8))
    }

    /** ANN point-serving over the wire: the client ships a query batch as
      * parquet, the server runs the requested serving path against its
      * persisted index dir and ships the top-k answer back as parquet —
      * the RemoteRead shape (request in, answer out) for the
      * px63/px65/px66/px67 serving surface, so the IVF read paths are
      * reachable by the thin client without shared storage. The `op`
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
      writeUnder(base, files)
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
      filesUnder("answer", base.resolve("answer"))
    }

    private def handle(header: String, files: Seq[(String, Array[Byte])])
        : Seq[(String, Array[Byte])] =
      kindOf(header) match {
        case "read" => handleRead(files)
        case "write" => execLock.synchronized(handleWrite(files))
        case "ann" => execLock.synchronized(handleAnn(header, files))
        case k => throw new IllegalArgumentException(s"unknown frame kind '$k'")
      }

    private def error(message: String): String =
      s"""{"kind": "error", "message": "${GraphStore.esc(message)}"}"""

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
              // to answer, and nothing was served (a frame is handled only
              // after it parses whole).
              val frame =
                try Some(readFrame(in))
                catch {
                  case e: IllegalArgumentException =>
                    writeFrame(out, error(
                      s"malformed frame: ${Option(e.getMessage).getOrElse("")}"), Seq.empty)
                    alive = false
                    None
                }
              frame.foreach { case (h, fs) =>
                val resp =
                  try (Ack, handle(h, fs))
                  catch {
                    case e: Throwable =>
                      (error(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"),
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

  /** One client connection: each call sends a request frame and blocks
    * for its response (at most `timeoutMs`; 0 waits without bound), `Left`
    * holding a refusal's message. Calls are
    * serialized on the connection; a call that fails mid-frame closes it,
    * since the byte stream can no longer be trusted.
    */
  private final class Connection(host: String, port: Int) extends AutoCloseable {
    private val sock = new Socket(host, port)
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))

    def call(header: String, files: Seq[(String, Array[Byte])], timeoutMs: Long)
        : Either[String, Seq[(String, Array[Byte])]] = synchronized {
      try {
        sock.setSoTimeout(math.min(timeoutMs, Int.MaxValue.toLong).toInt)
        writeFrame(out, header, files)
        val (h, resp) = readFrame(in)
        if (kindOf(h) == "error")
          Left(GraphStore.jsonField(h, "message").getOrElse("unknown error"))
        else Right(resp)
      } catch { case e: Throwable => close(); throw e }
    }

    def close(): Unit = { Try(sock.close()); () }
  }

  /** Thin network READ client: [[RemoteRead.Reader]]'s read surface, one
    * frame per request on its own connection.
    */
  final class ReadClient[V](spark: SparkSession, model: GraphModel[V],
      host: String, port: Int) extends RemoteRead.Reader[V](model) with AutoCloseable {
    private val connection = new Connection(host, port)

    protected def call(body: String, timeoutMs: Long): RemoteRead.ReadAck = {
      val reqId = UUID.randomUUID().toString
      val request = s"""{"reqId": "$reqId", $body}""".getBytes(UTF_8)
      RemoteRead.ReadAck(reqId,
        connection.call("""{"kind": "read"}""", Seq("request" -> request), timeoutMs)
          .map(files => RemoteRead.dropReqId(
            OpBatchFile.decode(spark, None, payload(files, "answer")))))
    }

    /** This client as the snapshot leg of a WriteClient's mid-txn reads
      * (`writeClient.submitWithReads(readClient.txnReads) { txn => ... }`).
      */
    def txnReads: RemoteWrite.TxnReads[V] = RemoteWrite.TxnReads.fromRemoteRead(this)

    def close(): Unit = connection.close()
  }

  /** How long a write frame waits for its ack: a generous bound on one
    * txn's apply and group commit. */
  private val WriteTimeoutMs = 120000L

  /** Thin network WRITE client: [[RemoteWrite.Writer]]'s shipped-txn
    * protocol (tx-local negative ordinals, atomicity, version handshake,
    * mid-txn reads), one frame per txn on its own connection. `submit`
    * returns once the server has acked the txn; txn ids carry a random
    * UUID, so no two clients ever share one.
    */
  final class WriteClient[V](spark: SparkSession, model: GraphModel[V],
      host: String, port: Int)
      extends RemoteWrite.Writer[V](model, s"wire-${UUID.randomUUID()}", 0L)
      with AutoCloseable {
    private val connection = new Connection(host, port)
    private val acks = mutable.Map.empty[String, RemoteWrite.TxnAck]

    protected def ship(txnId: String, rows: Seq[Row], meta: String): Unit = {
      val files = Seq(
        "ops" -> OpBatchFile.encode(spark, GraphStore.opSchema(model), rows),
        "meta" -> meta.getBytes(UTF_8))
      connection.call("""{"kind": "write"}""", files, WriteTimeoutMs) match {
        case Left(msg) => throw new IllegalStateException(s"server refused frame: $msg")
        case Right(resp) => synchronized {
          acks(txnId) = RemoteWrite.parseAck(new String(payload(resp, "ack"), UTF_8))
        }
      }
    }

    def ack(txnId: String): Option[RemoteWrite.TxnAck] = synchronized(acks.get(txnId))

    def await(txnId: String, timeoutMs: Long): RemoteWrite.TxnAck =
      ack(txnId).getOrElse(throw new NoSuchElementException(
        s"txn $txnId was not acked on this connection"))

    def close(): Unit = connection.close()
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
    private val connection = new Connection(host, port)
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
      val reqId = UUID.randomUUID().toString
      val reqDir = base.resolve(reqId)
      val qDir = reqDir.resolve("queries")
      queries.coalesce(1).write.mode("overwrite").parquet(qDir.toString)
      val header =
        s"""{"kind": "ann", "reqId": "$reqId", "idCol": "$idCol", """ +
          s""""vecCol": "$vecCol", "k": $k, "p1": $p1, "nprobe": $nprobe, """ +
          s""""rerank": $rerank, "op": "$op"}"""
      connection.call(header, filesUnder("queries", qDir), timeoutMs = 0L) match {
        case Left(msg) => throw new IllegalStateException(s"ann request refused: $msg")
        case Right(ansFiles) =>
          ansFiles.foreach { case (rel, _) =>
            require(rel.startsWith("answer/"), s"unexpected ann answer artifact $rel")
          }
          writeUnder(reqDir, ansFiles)
      }
      spark.read.parquet(reqDir.resolve("answer").toString)
    }

    def close(): Unit = connection.close()
  }
}
