package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import graft.graph._

/** TCP serve/client suite — the wire analog of the reference's socket
  * server (/root/reference/library/GraphDB/Server.hs:17-94,
  * Client.hs:53-60, Protocol.hs:8-43): each frame carries a read request
  * or a shipped txn in memory, and the server answers it with the same
  * RemoteRead parse/answer and RemoteWrite write core the shared-storage
  * suites prove (batching, refusals, tx-local refs, atomicity). These
  * tests pin that the wire preserves them end to end, plus wire-only
  * concerns: concurrent and successive clients on one server, value
  * fidelity through the parquet payloads, the frame bounds, and the Spark
  * cost of a wire round trip.
  */
class WireSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def storeWithData() = {
    val dir = Files.createTempDirectory("graft-wire-store-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val mj = g.newNode(Artist(1, "Michael Jackson"))
    val bj = g.newNode(Song("Billie Jean"))
    g.addTarget(g.root, mj)
    g.addTarget(g.root, bj)
    g.addTarget(bj, mj)
    store.commit()
    (store, dir, mj, bj)
  }

  test("wire read client: every read op round-trips over TCP") {
    val (store, dir, mj, bj) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serveRead(replica)
    val client = new Wire.ReadClient(spark, CatalogueModel,
      server.host, server.port)
    try {
      assert(client.getValue(mj) === Artist(1, "Michael Jackson"))
      assert(client.getValues(Seq(mj, bj, 424242L)) ===
        Map(mj -> Artist(1, "Michael Jackson"), bj -> Song("Billie Jean")),
        "batched read over the wire: unknown ids absent, not errors")
      assert(client.getTargets(store.session.root,
        IndexKey("Catalogue_Artist_Name", "Michael Jackson")) === Seq(mj))
      assert(client.targets(store.session.root).sorted === Seq(mj, bj).sorted)
      assert(client.sources(mj).toSet === Set(store.session.root, bj))
      val (nodes, edges, indexes) = client.getStats()
      assert(nodes === 3L && edges === 3L && indexes >= 1L)
      // single-id contract preserved through the wire: unknown id throws
      intercept[NoSuchElementException](client.getValue(999999L))
    } finally {
      client.close(); server.close(); store.close()
    }
  }

  test("wire write client: shipped txns apply atomically; tx-local refs resolve") {
    val (store, _, _, _) = storeWithData()
    val server = Wire.serveWrite(store)
    val client = new Wire.WriteClient(spark, CatalogueModel,
      server.host, server.port)
    try {
      val t1 = client.submit { txn =>
        val p = txn.newNode(Artist(9, "Prince"))
        txn.addTarget(0L, p) // negative tx-local ordinal through the wire
      }
      val a1 = client.await(t1)
      assert(a1.applied && a1.error.isEmpty)
      val newId = a1.assigned(-1L)
      assert(store.session.getValue(newId) === Artist(9, "Prince"))
      // a structurally bad txn is refused — no state change, typed error
      val before = store.session.applied().edges.count()
      val t2 = client.submit { txn => txn.addTarget(0L, 987654321L) }
      val a2 = client.await(t2)
      assert(!a2.applied && a2.error.nonEmpty)
      assert(store.session.applied().edges.count() === before)
    } finally {
      client.close(); server.close(); store.close()
    }
  }

  test("read-your-writes through the wire: write txn -> commit -> catchUp -> wire read") {
    // the full serving stack composed over TCP: a wire WRITE lands in the
    // store (group commit), the follower replica tails the WAL, and a
    // wire READ against the replica sees the new value — the
    // reference's write-then-read client session, across both transports
    val (store, dir, _, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serve(replica, store)
    val wc = new Wire.WriteClient(spark, CatalogueModel,
      server.host, server.port)
    val rc = new Wire.ReadClient(spark, CatalogueModel,
      server.host, server.port)
    try {
      val t = wc.submit { txn =>
        val g = txn.newNode(Genre("Funk"))
        txn.addTarget(0L, g)
      }
      val ack = wc.await(t)
      assert(ack.applied)
      val gid = ack.assigned(-1L)
      // applyPending committed the txn's WAL batch before acking; the
      // follower tails it on catchUp and the wire read serves it
      store.drain()
      replica.catchUp()
      assert(rc.getValue(gid) === Genre("Funk"))
      assert(rc.targets(0L).contains(gid))
    } finally {
      wc.close(); rc.close(); server.close(); store.close()
    }
  }

  test("binary value fidelity through the wire: a 1 MiB blob round-trips bit-exactly") {
    // the "parquet framing preserves full value fidelity" claim, proven
    // on the worst case: a large binary column through a DERIVED model,
    // shipped as a framed parquet answer
    import graft.graph.{DeriveSpecADT, GraphModel}
    val model = GraphModel.derive[DeriveSpecADT.Rich](
      indexesFn = (_, _) => Seq.empty)
    val dir = Files.createTempDirectory("graft-wire-blob-").toString
    val store = GraphStore.open(spark, model,
      DeriveSpecADT.RichRoot: DeriveSpecADT.Rich, dir)
    val blob = Array.tabulate(1 << 20)(i => (i * 31 + (i >> 8)).toByte)
    val n = store.session.newNode(DeriveSpecADT.Blobby(blob))
    store.session.addTarget(store.session.root, n)
    store.commit()
    val replica = GraphReplica.bootstrap(spark, model, dir)
    replica.catchUp()
    val server = Wire.serveRead(replica)
    val client = new Wire.ReadClient(spark, model,
      server.host, server.port)
    try {
      client.getValue(n) match {
        case DeriveSpecADT.Blobby(b) =>
          assert(b.length === blob.length)
          assert(java.util.Arrays.equals(b, blob),
            "blob must round-trip the wire bit-exactly")
        case other => fail(s"wrong value through the wire: $other")
      }
    } finally {
      client.close(); server.close(); store.close()
    }
  }

  test("two wire clients share one server; answers stay per-client") {
    val (store, dir, mj, bj) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serveRead(replica)
    val c1 = new Wire.ReadClient(spark, CatalogueModel,
      server.host, server.port)
    val c2 = new Wire.ReadClient(spark, CatalogueModel,
      server.host, server.port)
    try {
      val r1 = c1.getValue(mj)
      val r2 = c2.getValue(bj)
      assert(r1 === Artist(1, "Michael Jackson"))
      assert(r2 === Song("Billie Jean"))
      // interleaved second round on both connections
      assert(c2.getValues(Seq(mj)) === Map(mj -> Artist(1, "Michael Jackson")))
      assert(c1.getValues(Seq(bj)) === Map(bj -> Song("Billie Jean")))
    } finally {
      c1.close(); c2.close(); server.close(); store.close()
    }
  }

  test("mid-txn reads over the wire: read-then-branch against a wire snapshot") {
    // the reference's interactive txn window, composed across transports:
    // a wire WriteClient's open txn reads through a wire ReadClient's
    // snapshot (plus its own pending ops) and branches on what it sees
    val (store, dir, mj, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serve(replica, store)
    val rc = new Wire.ReadClient(spark, CatalogueModel, server.host, server.port)
    val wc = new Wire.WriteClient(spark, CatalogueModel, server.host, server.port)
    try {
      var pRef = 0L
      val t = wc.submitWithReads(rc.txnReads) { txn =>
        // snapshot read over TCP, inside the open txn
        assert(txn.getValue(mj) === Artist(1, "Michael Jackson"))
        pRef = txn.newNode(Artist(9, "Prince"))
        txn.setValue(mj, Artist(1, "MJ"))
        // overlay beats the wire snapshot
        assert(txn.getValue(mj) === Artist(1, "MJ"))
        // branch on a wire-read edge list merged with pending adds
        txn.addTarget(0L, pRef)
        if (txn.targets(0L).contains(pRef)) txn.addTarget(pRef, mj)
      }
      val ack = wc.await(t)
      assert(ack.applied && ack.error.isEmpty)
      val p = ack.assigned(pRef)
      assert(store.session.getValue(p) === Artist(9, "Prince"))
      assert(store.session.getValue(mj) === Artist(1, "MJ"))
      assert(store.session.targets(p) === Seq(mj))
    } finally {
      rc.close(); wc.close(); server.close(); store.close()
    }
  }

  test("stale-read conflict composes over the wire: later write, typed refusal") {
    // the wire snapshot is stamped with the server replica's watermark
    // (one watermark request at construction); a write committed between
    // the snapshot and the apply turns the read-derived txn into a typed
    // stale-read refusal — the lost update never lands
    val (store, dir, mj, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serve(replica, store)
    val rc = new Wire.ReadClient(spark, CatalogueModel, server.host, server.port)
    val wc = new Wire.WriteClient(spark, CatalogueModel, server.host, server.port)
    try {
      val staleSnap = rc.txnReads
      assert(staleSnap.mark.isDefined,
        "wire snapshots must carry the server replica's watermark")
      val t0 = wc.submit(txn => txn.setValue(mj, Artist(1, "B")))
      assert(wc.await(t0).applied)
      val t1 = wc.submitWithReads(staleSnap) { txn =>
        val v = txn.getValue(mj).asInstanceOf[Artist]
        txn.setValue(mj, Artist(1, v.name + "+A"))
      }
      val ack = wc.await(t1)
      assert(!ack.applied, "the lost update must not apply over the wire")
      assert(ack.error.exists(_.contains("stale-read conflict")), ack.error)
      assert(store.session.getValue(mj) === Artist(1, "B"))
    } finally {
      rc.close(); wc.close(); server.close(); store.close()
    }
  }

  // ------------------------------------------------ malformed-frame bounds

  private def rawSocket(server: Wire.Server[_]) = {
    val s = new java.net.Socket(server.host, server.port)
    (s,
      new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(s.getOutputStream)),
      new java.io.DataInputStream(
        new java.io.BufferedInputStream(s.getInputStream)))
  }

  /** Read one response frame's header, skipping its files. */
  private def readRespHeader(in: java.io.DataInputStream): String = {
    val hl = in.readInt()
    val hb = new Array[Byte](hl); in.readFully(hb)
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val pl = in.readInt()
      in.skipNBytes(pl.toLong)
      val sz = in.readLong()
      in.skipNBytes(sz)
    }
    new String(hb, "UTF-8")
  }

  private def writeHeader(out: java.io.DataOutputStream, h: String): Unit = {
    val hb = h.getBytes("UTF-8")
    out.writeInt(hb.length); out.write(hb)
  }

  test("quantized ANN top-k served through the wire == in-process serve") {
    import org.apache.spark.sql.functions.col
    val embs = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val idxDir = Files.createTempDirectory("graft-wire-annidx-").toString
    graft.pipeline.Similarity.saveTwoLevelIndex(embs, "vec_id", "embedding",
      idxDir, nlist1 = 4, k2 = 4, iters = 1)
    val queries = embs.where(col("vec_id") < 5)
    val server = Wire.serveAnn(spark, idxDir)
    val client = new Wire.AnnClient(spark, server.host, server.port)
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      // the wire answer IS the in-process quantized serve (parquet
      // round-trip is exact; the server runs the same entry point)
      val direct = rows(graft.pipeline.Similarity.quantizedTopKFromIndex(
        spark, idxDir, queries, "vec_id", "embedding", k = 5))
      assert(rows(client.topK(queries, k = 5)) === direct)
      assert(direct.nonEmpty)
      // rerank rides the same header; a second request reuses the socket
      val rdirect = rows(graft.pipeline.Similarity.quantizedTopKFromIndex(
        spark, idxDir, queries, "vec_id", "embedding", k = 5, rerank = 25))
      assert(rows(client.topK(queries, k = 5, rerank = 25)) === rdirect)
      // the ADC path (px66) and its prune+refine form (px67) ride the
      // same frame via the op field — wire parity for the whole PQ
      // serving family, not just the scalar path
      val adcDirect = rows(graft.pipeline.Similarity.pqAdcTopKFromIndex(
        spark, idxDir, queries, "vec_id", "embedding", k = 5))
      assert(rows(client.topK(queries, k = 5, op = "adc")) === adcDirect)
      assert(adcDirect.nonEmpty)
      val adcRerank = rows(graft.pipeline.Similarity.pqAdcTopKFromIndex(
        spark, idxDir, queries, "vec_id", "embedding", k = 5, rerank = 25))
      assert(rows(client.topK(queries, k = 5, rerank = 25, op = "adc"))
        === adcRerank)
      // self-sized probe knobs ride the wire: non-positive p1/nprobe
      // derive from the server's index (== pinned (2,4) at this scale,
      // the probeKnobs coincidence property)
      assert(rows(client.topK(queries, k = 5, p1 = -1, nprobe = -1)) === direct)
      // an unknown op is a typed refusal, not a dead connection
      val refused = intercept[IllegalStateException](
        client.topK(queries, k = 5, op = "bogus"))
      assert(refused.getMessage.contains("unknown ann op"))
      // and the connection still serves after the refusal
      assert(rows(client.topK(queries, k = 5)) === direct)
    } finally {
      client.close(); server.close()
    }
  }

  test("frames violating each framing bound get a typed refusal; accept loop survives") {
    val server = new Wire.Server[Unit](None, None)
    try {
      // (1) header length past MaxHeaderBytes — refused before any read
      locally {
        val (s, out, in) = rawSocket(server)
        out.writeInt((1 << 20) + 1); out.flush()
        val h = readRespHeader(in)
        assert(h.contains("\"kind\": \"error\"") && h.contains("header length"), h)
        assert(in.read() === -1, "the desynced connection must be closed")
        s.close()
      }
      // (2) file count past MaxFilesPerFrame
      locally {
        val (s, out, in) = rawSocket(server)
        writeHeader(out, """{"kind": "read"}""")
        out.writeInt(4097); out.flush()
        val h = readRespHeader(in)
        assert(h.contains("\"kind\": \"error\"") && h.contains("file count"), h)
        assert(in.read() === -1)
        s.close()
      }
      // (3) file size past MaxFileBytes
      locally {
        val (s, out, in) = rawSocket(server)
        writeHeader(out, """{"kind": "read"}""")
        out.writeInt(1)
        val pb = "a.req.json".getBytes("UTF-8")
        out.writeInt(pb.length); out.write(pb)
        out.writeLong((256L << 20) + 1L); out.flush()
        val h = readRespHeader(in)
        assert(h.contains("\"kind\": \"error\"") && h.contains("file size"), h)
        assert(in.read() === -1)
        s.close()
      }
      // (4) truncated frame: peer dies mid-frame — nothing to answer, no
      // artifact laid (files land only after the whole frame parses), and
      // the server must keep accepting
      locally {
        val (s, out, _) = rawSocket(server)
        out.writeInt(100); out.write(Array.fill[Byte](10)(7)); out.flush()
        s.close()
      }
      // liveness after all four: a NEW connection gets a well-formed
      // answer, and a refused-but-synced frame (unknown kind) does NOT
      // kill its connection — the next frame on the same socket answers
      locally {
        val (s, out, in) = rawSocket(server)
        writeHeader(out, """{"kind": "zap"}"""); out.writeInt(0); out.flush()
        val h1 = readRespHeader(in)
        assert(h1.contains("\"kind\": \"error\"") && h1.contains("unknown frame kind"), h1)
        writeHeader(out, """{"kind": "zap"}"""); out.writeInt(0); out.flush()
        val h2 = readRespHeader(in)
        assert(h2.contains("\"kind\": \"error\""), h2)
        s.close()
      }
    } finally server.close()
  }

  test("unsafe artifact path is refused in-frame; the connection stays usable") {
    val (store, dir, mj, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    // read frames carry no paths; the ann frame's query files do. The index
    // dir is never read: the path check refuses the frame before the serve
    val idxDir = Files.createTempDirectory("graft-wire-noidx-").toString
    val server = new Wire.Server[Cat](Some(replica), None, Some((spark, idxDir)))
    def readFrame(out: java.io.DataOutputStream, request: String): Unit = {
      writeHeader(out, """{"kind": "read"}""")
      out.writeInt(1)
      val nb = "request".getBytes("UTF-8")
      out.writeInt(nb.length); out.write(nb)
      val rb = request.getBytes("UTF-8")
      out.writeLong(rb.length.toLong); out.write(rb); out.flush()
    }
    try {
      val (s, out, in) = rawSocket(server)
      // a path-traversal artifact must be refused (never written outside
      // the request dir) and must not desynchronize the connection
      writeHeader(out, """{"kind": "ann", "reqId": "u1"}""")
      out.writeInt(1)
      val pb = "../evil.parquet".getBytes("UTF-8")
      out.writeInt(pb.length); out.write(pb)
      val payload = "{}".getBytes("UTF-8")
      out.writeLong(payload.length.toLong); out.write(payload); out.flush()
      val h1 = readRespHeader(in)
      assert(h1.contains("\"kind\": \"error\"") && h1.contains("unsafe path"), h1)
      // same socket, well-formed read frame → clean ack
      readFrame(out, s"""{"reqId": "r1", "op": "getValues", "ids": [$mj]}""")
      val h2 = readRespHeader(in)
      assert(h2.contains("\"kind\": \"ack\""), h2)
      // a malformed read request is a typed refusal; the socket serves on
      readFrame(out, """{"reqId": "r2", "op": "zap"}""")
      val h3 = readRespHeader(in)
      assert(h3.contains("\"kind\": \"error\"") && h3.contains("unknown read op"), h3)
      readFrame(out, s"""{"reqId": "r3", "op": "targets", "id": 0}""")
      val h4 = readRespHeader(in)
      assert(h4.contains("\"kind\": \"ack\""), h4)
      s.close()
      // and the real client path still works end to end on this server
      val client = new Wire.ReadClient(spark, CatalogueModel,
        server.host, server.port)
      try assert(client.getValue(mj) === Artist(1, "Michael Jackson"))
      finally client.close()
    } finally { server.close(); store.close() }
  }

  test("clients opened in turn on one server apply their own txns and read their own answers") {
    // txn and request ids are minted per client from a random UUID: a
    // later client never shares an earlier one's ids, so the server never
    // answers it with the earlier client's recorded ack or answer
    val (store, dir, _, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serve(replica, store)
    try {
      val written = Seq(Artist(2, "A"), Artist(3, "B")).map { v =>
        val wc = new Wire.WriteClient(spark, CatalogueModel, server.host, server.port)
        try {
          var ref = 0L
          val t = wc.submit { txn => ref = txn.newNode(v); txn.addTarget(0L, ref) }
          val ack = wc.await(t)
          assert(ack.applied && ack.error.isEmpty, ack)
          ack.assigned(ref) -> v
        } finally wc.close()
      }
      assert(written.map(_._1).distinct.size === 2, written)
      store.drain()
      replica.catchUp()
      written.foreach { case (id, v) =>
        assert(store.session.getValue(id) === v)
        val rc = new Wire.ReadClient(spark, CatalogueModel, server.host, server.port)
        try {
          assert(rc.getValue(id) === v)
          assert(rc.targets(0L).contains(id))
        } finally rc.close()
      }
    } finally { server.close(); store.close() }
  }

  test("a 100,000-id getValues near Long.MaxValue is answered; the connection serves on") {
    // 100k ids of 19 digits are ~2 MB of request JSON, past the 1 MiB
    // header bound: the request rides the frame body
    val (store, dir, mj, bj) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serveRead(replica)
    val client = new Wire.ReadClient(spark, CatalogueModel, server.host, server.port)
    try {
      val ids = Seq(mj, bj) ++ (0L until 99998L).map(Long.MaxValue - _)
      assert(ids.distinct.size === 100000)
      assert(client.getValues(ids) ===
        Map(mj -> Artist(1, "Michael Jackson"), bj -> Song("Billie Jean")),
        "unknown ids are absent")
      assert(client.getValue(bj) === Song("Billie Jean"))
    } finally { client.close(); server.close(); store.close() }
  }

  test("a wire round trip costs the Spark jobs of the serving call it runs") {
    // a store reopened from its snapshot serves from materialized keyed
    // bases, whose blocks the driver holds: a point read and a commit
    // lookup scan them in place and run no job
    val (first, dir, mj, _) = storeWithData()
    first.close()
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val server = Wire.serve(replica, store)
    val rc = new Wire.ReadClient(spark, CatalogueModel, server.host, server.port)
    val wc = new Wire.WriteClient(spark, CatalogueModel, server.host, server.port)
    val inbox = Files.createTempDirectory("graft-wire-cost-inbox-").toString
    val ic = new RemoteWrite.Client(spark, CatalogueModel, inbox, "cost")
    def cost(f: => Unit) = graft.tools.CostProbe.costOf(spark)(f)
    try {
      // reads: the same one-id getValues, in process and over the wire
      replica.getValues(Seq(mj)); rc.getValues(Seq(mj))
      val local = cost(replica.getValues(Seq(mj)))
      val wire = cost(assert(rc.getValues(Seq(mj)).keySet === Set(mj)))
      assert(local.jobs === 0 && local.sqlExecutions === 0, s"replica.getValues: $local")
      assert(wire.jobs === 0 && wire.sqlExecutions === 0,
        s"a warm wire getValues must run only the replica's read: $wire")
      // writes: the same one-txn shape through the inbox poll and the wire
      def txn(name: String)(t: RemoteWrite.RemoteTxn[Cat]): Unit =
        t.addTarget(mj, t.newNode(Song(name)))
      ic.submit(txn("warm-inbox")); RemoteWrite.applyPending(store, inbox)
      assert(wc.await(wc.submit(txn("warm-wire"))).applied)
      ic.submit(txn("inbox"))
      val polled = cost(assert(RemoteWrite.applyPending(store, inbox).forall(_.applied)))
      var acked: RemoteWrite.TxnAck = null
      val wired = cost { acked = wc.await(wc.submit(txn("wire"))) }
      assert(acked.applied, acked)
      assert(polled.jobs === 0, s"the poll's existence check and commit lookup: $polled")
      assert(wired.jobs === polled.jobs,
        s"a one-txn wire write ($wired) must run the jobs of applyPending ($polled)")
      info(s"getValues: $wire; write: $wired")
    } finally { rc.close(); wc.close(); server.close(); store.close() }
  }

  test("a read frame is answered while a write frame applies on another connection") {
    val dir = Files.createTempDirectory("graft-wire-concurrent-").toString
    val model = new GatedModel("gate")
    val store = GraphStore.open(spark, model, CatRoot: Cat, dir)
    val mj = store.session.newNode(Artist(1, "Michael Jackson"))
    store.session.addTarget(store.session.root, mj)
    store.commit()
    val replica = GraphReplica.bootstrap(spark, model, dir)
    replica.catchUp()
    val server = Wire.serve(replica, store)
    val rc = new Wire.ReadClient(spark, CatalogueModel, server.host, server.port)
    val wc = new Wire.WriteClient(spark, CatalogueModel, server.host, server.port)
    try {
      assert(rc.getValue(mj) === Artist(1, "Michael Jackson"))
      // 2,000 songs under the root, the gated one last: the frame's apply
      // waits inside the server's write path until the read below is done
      val write = Future {
        wc.await(wc.submit { t =>
          (1 to 2000).foreach(i => t.addTarget(0L, t.newNode(Song(s"s$i"))))
          t.addTarget(0L, t.newNode(Song("gate")))
        })
      }(ExecutionContext.global)
      assert(model.applying.await(60, TimeUnit.SECONDS), "the write frame never applied")
      val read = Try(rc.getValue(mj))
      val heldWhileRead = !model.passed
      model.release.countDown()
      val ack = Await.result(write, 120.seconds)
      assert(ack.applied, ack)
      assert(read.toOption.contains(Artist(1, "Michael Jackson")), read)
      assert(heldWhileRead, "the read was answered only after the write left its apply")
    } finally {
      model.release.countDown(); rc.close(); wc.close(); server.close(); store.close()
    }
  }
}

/** [[CatalogueModel]] whose index emission for an edge to or from the song
  * named `gate` first counts down `applying`, then waits (at most 20 s) for
  * `release`, and then sets `passed`: a txn that links that song holds its
  * apply open until the test releases it.
  */
private final class GatedModel(gate: String) extends GraphModel[Cat] {
  @transient lazy val applying = new CountDownLatch(1)
  @transient lazy val release = new CountDownLatch(1)
  @volatile var passed = false
  val valueSchema: org.apache.spark.sql.types.StructType = CatalogueModel.valueSchema
  def kindOf(v: Cat): String = CatalogueModel.kindOf(v)
  def toValueRow(v: Cat): org.apache.spark.sql.Row = CatalogueModel.toValueRow(v)
  def fromValueRow(kind: String, row: org.apache.spark.sql.Row): Cat =
    CatalogueModel.fromValueRow(kind, row)
  def indexes(target: Cat, source: Cat): Seq[IndexKey] = {
    if (Seq(target, source).contains(Song(gate))) {
      applying.countDown()
      release.await(20, TimeUnit.SECONDS)
      passed = true
    }
    CatalogueModel.indexes(target, source)
  }
}
