package graft.tools

import java.nio.file.{Files, Paths}

import graft.graph.GraphQueries.{CustomerV, GeoModel, GeoRoot, GeoV}
import graft.store.{GraphReplica, GraphStore, RemoteRead, RemoteWrite}

/** Serve-path throughput receipts: wall-clock requests/sec for the
  * thin-client READ path and acked-txns/sec for the WRITE path, under one
  * realistic burst each — the measured form of the reference's per-action
  * round-trip cost model (Client.hs:71-117). Emits ONE JSON line; record it in SERVE_r{N}.json.
  *
  * Usage: runMain graft.tools.ServeBench [readClients] [reqsPerClient]
  *                                       [idsPerReq] [writeTxns]
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val readClients = if (args.length > 0) args(0).toInt else 64
    val reqsPerClient = if (args.length > 1) args(1).toInt else 16
    val idsPerReq = if (args.length > 2) args(2).toInt else 16
    val writeTxns = if (args.length > 3) args(3).toInt else 256
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // ---- store under test: root -> 2000 customers, committed once
    val storeDir = Files.createTempDirectory("graft-servebench-").toString
    val store = GraphStore.open(spark, GeoModel, GeoRoot: GeoV, storeDir)
    val nNodes = 2000
    // allocate all nodes, then all edges: two collapsed op runs, not 4000
    val ids = (1 to nNodes).map(i => store.session.newNode(CustomerV(i.toLong)))
    ids.foreach(id => store.session.addTarget(store.session.root, id))
    store.commit()
    val replica = GraphReplica.bootstrap(spark, GeoModel, storeDir)
    replica.catchUp()
    val rnd = new scala.util.Random(42)

    // ---- READ burst: readClients × reqsPerClient getValues point reads
    def writeReadBurst(): String = {
      val inbox = Files.createTempDirectory("graft-servebench-read-").toString
      for (c <- 0 until readClients; s <- 0 until reqsPerClient) {
        val reqId = f"c$c%03d-$s%06d"
        val req = Seq.fill(idsPerReq)(ids(rnd.nextInt(nNodes))).mkString(", ")
        Files.writeString(Paths.get(inbox).resolve(s"$reqId.req.json"),
          s"""{"reqId": "$reqId", "op": "getValues", "ids": [$req]}""")
      }
      inbox
    }
    val nReqs = readClients * reqsPerClient
    def drainReads(inbox: String): Double = {
      val t0 = System.nanoTime()
      var answered = 0
      while (answered < nReqs) {
        val got = RemoteRead.answerPending(replica, inbox).size
        require(got > 0, s"stalled at $answered/$nReqs answered")
        answered += got
      }
      (System.nanoTime() - t0) / 1e9
    }
    // warmup: absorb codegen/JIT so the path is measured warm
    drainReads(writeReadBurst())
    val readSec = drainReads(writeReadBurst())

    // ---- WRITE burst: writeTxns shipped txns (newNode + addTarget each),
    // 8 client namespaces, drained by the owner's applyPending poll loop
    val wInbox = Files.createTempDirectory("graft-servebench-write-").toString
    val wClients = (0 until 8).map(c =>
      new RemoteWrite.Client(spark, GeoModel, wInbox, f"w$c%02d"))
    (0 until writeTxns).foreach { i =>
      wClients(i % 8).submit { txn =>
        val n = txn.newNode(CustomerV(100000L + i))
        txn.addTarget(0L, n)
      }
    }
    val t0 = System.nanoTime()
    var acked = 0
    var polls = 0
    while (acked < writeTxns) {
      val got = RemoteWrite.applyPending(store, wInbox).size
      require(got > 0, s"stalled at $acked/$writeTxns acked")
      acked += got
      polls += 1
    }
    val writeSec = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[serve] write polls=$polls")

    // ---- WIRE: the TCP transport (store.Wire) under the same
    // point-read/write shape — 4 socket clients x 16 getValues requests of
    // idsPerReq ids, then 32 wire txns. Each frame is a synchronous
    // request/response (the reference's per-action round trip), so this
    // measures the per-action serving floor over a real socket. Every
    // client makes 4 untimed calls first, so the figures are warm round
    // trips, reported as the median call.
    import graft.store.Wire
    val wireServer = Wire.serve(replica, store)
    val (wireReads, wireWrites) = (64, 32)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def median(ms: Seq[Double]): Double = ms.sorted.apply(ms.size / 2)
    val wireReadMs = {
      val clients = (0 until 4).map(_ => new Wire.ReadClient(
        spark, GeoModel, wireServer.host, wireServer.port))
      def read(c: Wire.ReadClient[GeoV]): Unit =
        c.getValues(Seq.fill(idsPerReq)(ids(rnd.nextInt(nNodes))))
      for (_ <- 0 until 4; c <- clients) read(c)
      val ms = for (_ <- 0 until wireReads / 4; c <- clients) yield timed(read(c))
      clients.foreach(_.close())
      ms
    }
    val wireWriteMs = {
      val wc = new Wire.WriteClient(spark, GeoModel,
        wireServer.host, wireServer.port)
      def write(i: Int): Unit = {
        val txnId = wc.submit { txn =>
          val n = txn.newNode(CustomerV(900000L + i))
          txn.addTarget(0L, n)
        }
        require(wc.await(txnId, timeoutMs = 120000L).applied, s"wire txn $i refused")
      }
      (0 until 4).foreach(write)
      val ms = (4 until 4 + wireWrites).map(i => timed(write(i)))
      wc.close()
      ms
    }
    wireServer.close()

    println(
      s"""{"metric":"serve","read":{"requests":$nReqs,"ids_per_req":$idsPerReq,""" +
      s""""sec":${fmt(readSec)},"rps":${fmt(nReqs / readSec)}},""" +
      s""""write":{"txns":$writeTxns,"sec":${fmt(writeSec)},""" +
      s""""txn_rps":${fmt(writeTxns / writeSec)}},""" +
      s""""wire":{"read_requests":$wireReads,"ids_per_req":$idsPerReq,""" +
      s""""read_sec":${fmt(wireReadMs.sum / 1e3)},""" +
      s""""read_median_ms":${fmt(median(wireReadMs))},""" +
      s""""write_txns":$wireWrites,"write_sec":${fmt(wireWriteMs.sum / 1e3)},""" +
      s""""write_median_ms":${fmt(median(wireWriteMs))}}}""")
    store.close()
    spark.stop()
  }
}
