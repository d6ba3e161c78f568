package graft.store

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.graph._
import RemoteWrite._

/** Write-shipping suite — the client/server WRITE path analog (reference
  * Server.hs / Client.hs / Protocol.hs): shipped txns with tx-local refs
  * execute atomically in the owner's session, acks carry the assigned
  * global ids, the version handshake refuses, and the inbox protocol is
  * torn-write-safe and idempotent under re-polling.
  */
class RemoteWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshStore() = {
    val dir = Files.createTempDirectory("graft-rw-store-").toString
    (GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir), dir)
  }
  private def freshInbox() =
    Files.createTempDirectory("graft-rw-inbox-").toString

  /** Every WAL batch dir under the store (live events dirs + archive). */
  private def batchDirs(storeDir: String): Set[String] = {
    def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.isDirectory(p)) Seq.empty
      else GraphStore.listPaths(p).filter(Files.isDirectory(_)).flatMap { k =>
        if (k.getFileName.toString.startsWith("batch-")) Seq(k) else walk(k)
      }
    walk(Paths.get(storeDir)).map(_.toString).toSet
  }

  test("shipped txn applies atomically; ack maps tx-local refs to global ids") {
    val (store, storeDir) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "c1")

    var mjRef = 0L
    val t1 = client.submit { txn =>
      mjRef = txn.newNode(Artist(1, "Michael Jackson"))
      txn.addTarget(0L, mjRef) // 0 = the root, globally known
    }
    assert(RemoteWrite.applyPending(store, inbox).map(_.txnId) === Seq(t1))

    val ack1 = client.await(t1)
    assert(ack1.applied && ack1.error.isEmpty)
    val mj = ack1.assigned(mjRef)
    assert(mj > 0L)
    assert(store.session.getValue(mj) === Artist(1, "Michael Jackson"))
    assert(store.session.getTargets(store.session.root,
      IndexKey("Catalogue_Artist_Name", "Michael Jackson")) === Seq(mj))

    // second txn uses the global id learned from the first ack — the
    // response-round-trip usage pattern of the reference client
    val t2 = client.submit { txn =>
      val song = txn.newNode(Song("Billie Jean"))
      txn.addTarget(0L, song)
      txn.addTarget(song, mj)
      txn.setValue(mj, Artist(1, "MJ"))
    }
    RemoteWrite.applyPending(store, inbox)
    val ack2 = client.await(t2)
    assert(ack2.applied)
    assert(store.session.getValue(mj) === Artist(1, "MJ"))
    assert(store.session.sources(mj).size === 2)

    // applied txns are group-committed to the WAL before their acks are
    // written: a restart replays everything the acks acknowledged
    val statsBefore = store.session.getStats()
    store.close()
    val reopened = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, storeDir)
    assert(reopened.session.getStats() === statsBefore)
    assert(reopened.session.getValue(mj) === Artist(1, "MJ"))
    reopened.close()
  }

  test("stale same-named dirs in applied/ and quarantined/ cannot wedge triage") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "restore")
    val t1 = client.submit { txn =>
      txn.addTarget(0L, txn.newNode(Artist(2, "Prince")))
    }
    // operator-restore scenario: a NON-EMPTY dir with the txn's archive
    // name already sits in applied/ — Files.move(REPLACE_EXISTING) cannot
    // replace a non-empty directory, so before the fix this threw
    // DirectoryNotEmptyException out of triage on every poll
    val stale = Paths.get(inbox).resolve("applied").resolve(s"$t1.txn")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("junk.txt"), "restored from backup")
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.map(_.txnId) === Seq(t1) && acks.head.applied)
    // the stale target was superseded by the processed txn's archive
    val archived = Paths.get(inbox).resolve("applied").resolve(s"$t1.txn")
    assert(Files.exists(archived) && !Files.exists(archived.resolve("junk.txt")),
      "archive must replace the stale non-empty target")
    // idempotent: the inbox is clear, nothing re-applies
    assert(RemoteWrite.applyPending(store, inbox).isEmpty)
    store.close()
  }

  test("per-client FIFO: later txn's write wins on the same node") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "fifo")
    var ref = 0L
    val t1 = client.submit { txn => ref = txn.newNode(Genre("first")) ; txn.addTarget(0L, ref) }
    val a1 = { RemoteWrite.applyPending(store, inbox); client.await(t1) }
    val gid = a1.assigned(ref)
    // two pending txns on the same global node, shipped before any poll
    client.submit(txn => txn.setValue(gid, Genre("second")))
    client.submit(txn => txn.setValue(gid, Genre("third")))
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.size === 2 && acks.forall(_.applied))
    assert(store.session.getValue(gid) === Genre("third"),
      "txns must apply in client-seq order")
    store.close()
  }

  test("version handshake: a future-format txn is refused, state untouched") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "vgate")
    val t = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("nope"))) }
    // tamper the shipped meta to a future format version
    val meta = Paths.get(inbox).resolve(s"$t.txn").resolve("_meta.json")
    Files.writeString(meta,
      Files.readString(meta).replaceFirst("\"formatVersion\": \\d+",
        "\"formatVersion\": 99"))
    val before = store.session.getStats()
    RemoteWrite.applyPending(store, inbox)
    val ack = client.await(t)
    assert(!ack.applied)
    assert(ack.error.exists(_.contains("incompatible format version 99")))
    assert(store.session.getStats() === before)
    store.close()
  }

  test("invalid tx-local ref is refused atomically (no partial apply)") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    // the client-side builder rejects undefined refs eagerly...
    val client = new Client(spark, CatalogueModel, inbox, "bad")
    intercept[IllegalArgumentException] {
      client.submit(txn => txn.addTarget(0L, -7L))
    }
    // ...so forge a txn the server must reject: valid newNode, then an op
    // on an undefined ordinal (an untrusted inbox is not our builder)
    val t = client.submit { txn =>
      txn.addTarget(0L, txn.newNode(Song("legit")))
    }
    val dir = Paths.get(inbox).resolve(s"$t.txn")
    val forged = spark.read.parquet(dir.toString)
    import org.apache.spark.sql.functions._
    val extra = forged.withColumn("seq", col("seq") + 100)
      .withColumn("op", lit("add")).withColumn("id", lit(null).cast("long"))
      .withColumn("src", lit(0L)).withColumn("dst", lit(-9L))
      .withColumn("kind", lit(null).cast("string"))
      .withColumn("value", lit(null).cast(forged.schema("value").dataType))
      .limit(1)
    val tampered = forged.unionByName(extra)
    val tmp = Files.createTempDirectory("graft-rw-forge-")
    tampered.write.mode("overwrite").parquet(tmp.resolve("p").toString)
    // replace data files in place, keep _meta.json/_SUCCESS
    Files.list(dir).forEach(p =>
      if (p.getFileName.toString.endsWith(".parquet")) Files.delete(p))
    Files.list(tmp.resolve("p")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.copy(p, dir.resolve(p.getFileName))
    }
    val before = store.session.getStats()
    RemoteWrite.applyPending(store, inbox)
    val ack = client.await(t)
    assert(!ack.applied)
    assert(ack.error.exists(_.contains("undefined tx-local ref")))
    assert(store.session.getStats() === before, "refused txn must change nothing")
    store.close()
  }

  test("unpublished (torn) txn dirs are invisible; re-poll is idempotent") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "torn")
    // a foreign partial write: dir without _SUCCESS/_meta — never admitted
    Files.createDirectories(Paths.get(inbox).resolve("zzz-000000.txn"))
    val t = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("ok"))) }
    assert(RemoteWrite.applyPending(store, inbox).size === 1)
    val stats = store.session.getStats()
    // second poll: nothing new — acked txn not re-applied, torn dir skipped
    assert(RemoteWrite.applyPending(store, inbox).isEmpty)
    assert(store.session.getStats() === stats)
    assert(client.await(t).applied)
    store.close()
  }

  test("apply failure after mutation is fail-stop: typed throw, no ack") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "failstop")
    val t = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("x"))) }
    store.failNextWalPublish = true // commit() will fail AFTER session mutation
    val e = intercept[ApplyFailedException] {
      RemoteWrite.applyPending(store, inbox)
    }
    assert(e.txnId === t)
    assert(client.ack(t).isEmpty,
      "a refusal ack here would lie — the mutated ops are in the op log")
    assert(Files.exists(Paths.get(inbox).resolve(s"$t.txn")),
      "txn stays shipped for the post-recovery retry")
    // the fail-stop is mechanical: polling the SAME store again must be
    // refused (re-applying would duplicate the partial txn's ops), the
    // same discipline as the buffered WAL worker's poisoned queue
    val e2 = intercept[IllegalStateException] {
      RemoteWrite.applyPending(store, inbox)
    }
    assert(e2.getMessage.contains("reopen the store"))
    store.abandon() // owner dies; recovery = reopen (WAL-prefix discipline)
  }

  test("buffered store: an acked txn survives a crash (drain before ack)") {
    val dir = Files.createTempDirectory("graft-rw-buf-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir,
      buffered = true)
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "buf")
    var ref = 0L
    val t = client.submit { txn =>
      ref = txn.newNode(Song("durable")); txn.addTarget(0L, ref)
    }
    RemoteWrite.applyPending(store, inbox)
    val gid = client.await(t).assigned(ref)
    // crash WITHOUT close/checkpoint: buffered commit() acks at enqueue,
    // so without the drain barrier before the ack this txn would die in
    // the queue after the client was told "applied"
    store.abandon()
    val reopened = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    assert(reopened.session.getValue(gid) === Song("durable"))
    reopened.close()
  }

  test("two concurrent clients: both applied, ids disjoint, acks separate") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val ca = new Client(spark, CatalogueModel, inbox, "alice")
    val cb = new Client(spark, CatalogueModel, inbox, "bob")
    var ra = 0L; var rb = 0L
    val ta = ca.submit { txn => ra = txn.newNode(Artist(1, "A")); txn.addTarget(0L, ra) }
    val tb = cb.submit { txn => rb = txn.newNode(Artist(2, "B")); txn.addTarget(0L, rb) }
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.size === 2 && acks.forall(_.applied))
    val (ga, gb) = (ca.await(ta).assigned(ra), cb.await(tb).assigned(rb))
    assert(ga !== gb, "global ids must be disjoint across clients")
    assert(store.session.getValue(ga) === Artist(1, "A"))
    assert(store.session.getValue(gb) === Artist(2, "B"))
    store.close()
  }

  test("full serve loop: remote write -> owner applies -> replica reads") {
    // the reference's complete client/server story in Spark terms: a
    // remote client ships a txn (write leg), the store owner applies it
    // under the single-writer lock, and an independent READ REPLICA
    // tailing the WAL serves the new data without ever taking the lock
    val dir = Files.createTempDirectory("graft-rw-e2e-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "remote")
    var ref = 0L
    val t = client.submit { txn =>
      ref = txn.newNode(Artist(7, "Stevie Wonder"))
      txn.addTarget(0L, ref)
    }
    RemoteWrite.applyPending(store, inbox)
    val gid = client.await(t).assigned(ref)

    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    assert(replica.getValue(gid) === Artist(7, "Stevie Wonder"))
    assert(replica.getTargets(0L,
      IndexKey("Catalogue_Artist_Name", "Stevie Wonder")) === Seq(gid))
    assert(replica.getStats() === store.session.getStats())
    store.close()
  }

  test("stale-read conflict: a lost update is refused at apply time; fresh snapshot retries") {
    // THE lost-update shape: writer A reads node n from a snapshot,
    // writer B commits a newer value, then A's read-derived write
    // arrives. Pre-r16 this applied silently (A's write clobbers B's,
    // derived from a value that no longer exists); now the txn ships its
    // snapshot mark + read ids and the server refuses with a typed
    // conflict — the apply-time stand-in for the reference's reads under
    // the held write lock (GraphDB.hs:288-289).
    val dir = Files.createTempDirectory("graft-rw-conflict-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val n = store.session.newNode(Artist(1, "v0"))
    store.session.addTarget(store.session.root, n)
    store.commit()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = freshInbox()
    val staleSnap = RemoteWrite.TxnReads.fromReplica(replica)
    assert(staleSnap.mark.isDefined, "replica snapshots must carry a mark")
    // B commits between A's snapshot and A's apply
    val clientB = new Client(spark, CatalogueModel, inbox, "wb")
    val tB = clientB.submit(txn => txn.setValue(n, Artist(1, "B")))
    RemoteWrite.applyPending(store, inbox)
    assert(clientB.await(tB).applied)
    // A builds a read-derived write against the STALE snapshot
    val clientA = new Client(spark, CatalogueModel, inbox, "wa")
    val tA = clientA.submitWithReads(staleSnap) { txn =>
      val v = txn.getValue(n).asInstanceOf[Artist]
      txn.setValue(n, Artist(1, v.name + "+A"))
    }
    RemoteWrite.applyPending(store, inbox)
    val ack = clientA.await(tA)
    assert(!ack.applied, "the lost update must not apply silently")
    assert(ack.error.exists(_.contains("stale-read conflict")), ack.error)
    assert(store.session.getValue(n) === Artist(1, "B"),
      "B's committed write must survive")
    // retry on a FRESH snapshot sees B's value and applies
    replica.catchUp()
    val tA2 = clientA.submitWithReads(RemoteWrite.TxnReads.fromReplica(replica)) { txn =>
      val v = txn.getValue(n).asInstanceOf[Artist]
      txn.setValue(n, Artist(1, v.name + "+A"))
    }
    RemoteWrite.applyPending(store, inbox)
    assert(clientA.await(tA2).applied)
    assert(store.session.getValue(n) === Artist(1, "B+A"))
    // INTRA-poll leg: a same-poll EARLIER txn's mutation is not yet
    // WAL-flushed (group commit), so mutatedSince cannot see it — the
    // driver-side mutatedThisPoll tracking must catch it. Txns apply in
    // lexicographic dir order, so the writer's clientId ("w0") sorts
    // before the reader's ("wa"): writer applies first, reader conflicts.
    replica.catchUp()
    val snap2 = RemoteWrite.TxnReads.fromReplica(replica)
    val clientW0 = new Client(spark, CatalogueModel, inbox, "w0")
    val t1 = clientW0.submit(txn => txn.setValue(n, Artist(1, "C")))
    val t2 = clientA.submitWithReads(snap2) { txn =>
      val v = txn.getValue(n).asInstanceOf[Artist]
      txn.setValue(n, Artist(1, v.name + "+D"))
    }
    RemoteWrite.applyPending(store, inbox)
    assert(clientW0.await(t1).applied)
    val a2 = clientA.await(t2)
    assert(!a2.applied, "same-poll mutation must also conflict")
    assert(a2.error.exists(_.contains("stale-read conflict")), a2.error)
    assert(store.session.getValue(n) === Artist(1, "C"))
    // a txn WITHOUT reads still applies optimistically (no false refusal)
    val tPlain = clientB.submit(txn => txn.setValue(n, Artist(1, "E")))
    RemoteWrite.applyPending(store, inbox)
    assert(clientB.await(tPlain).applied)
    // REMOVAL GRANULARITY: a targets read ships its OBSERVED members, so
    // an unrelated removal elsewhere in the graph does NOT refuse the
    // txn — only removing a member the read actually saw does
    var xRef = 0L
    val tX = clientB.submit { txn =>
      xRef = txn.newNode(Song("tmp")); txn.addTarget(xRef, n)
    }
    RemoteWrite.applyPending(store, inbox)
    val x = clientB.await(tX).assigned(xRef)
    replica.catchUp()
    val snapU = RemoteWrite.TxnReads.fromReplica(replica)
    val tRmX = clientB.submit(txn => txn.remove(x)) // unrelated removal
    RemoteWrite.applyPending(store, inbox)
    assert(clientB.await(tRmX).applied)
    val tOk = clientA.submitWithReads(snapU) { txn =>
      assert(txn.targets(0L).contains(n)) // observed members: root's list
      txn.addTarget(0L, txn.newNode(Song("fine")))
    }
    RemoteWrite.applyPending(store, inbox)
    assert(clientA.await(tOk).applied,
      "an unrelated removal must not refuse a targets-reading txn")
    // ...but removing an OBSERVED member conflicts
    replica.catchUp()
    val snapV = RemoteWrite.TxnReads.fromReplica(replica)
    val tRmN = clientB.submit(txn => txn.remove(n))
    RemoteWrite.applyPending(store, inbox)
    assert(clientB.await(tRmN).applied)
    val tBad = clientA.submitWithReads(snapV) { txn =>
      assert(txn.targets(0L).contains(n)) // stale: n observed in the list
      txn.addTarget(0L, txn.newNode(Song("late")))
    }
    RemoteWrite.applyPending(store, inbox)
    val aBad = clientA.await(tBad)
    assert(!aBad.applied && aBad.error.exists(_.contains("stale-read conflict")),
      "removing an observed member must refuse the stale targets read")
    store.close()
  }

  test("stale-read conflict survives store close/reopen: archived WAL is still scanned") {
    // close() archives the events dirs into archive/ and the reopened
    // store starts a new events index — the conflict check's WAL-suffix
    // scan must keep seeing mutations that happened before the reopen,
    // or a bounce of the server would silently re-admit lost updates
    val dir = Files.createTempDirectory("graft-rw-conflict2-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val n = store.session.newNode(Artist(1, "v0"))
    store.session.addTarget(store.session.root, n)
    store.commit()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val staleSnap = RemoteWrite.TxnReads.fromReplica(replica)
    val inbox = freshInbox()
    val clientB = new Client(spark, CatalogueModel, inbox, "rb")
    val tB = clientB.submit(txn => txn.setValue(n, Artist(1, "B")))
    RemoteWrite.applyPending(store, inbox)
    assert(clientB.await(tB).applied)
    store.close() // archives the events dirs, checkpoints, releases
    val store2 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    try {
      val clientA = new Client(spark, CatalogueModel, inbox, "ra")
      val tA = clientA.submitWithReads(staleSnap) { txn =>
        val v = txn.getValue(n).asInstanceOf[Artist]
        txn.setValue(n, Artist(1, v.name + "+A"))
      }
      RemoteWrite.applyPending(store2, inbox)
      val ack = clientA.await(tA)
      assert(!ack.applied, "the reopen must not launder the stale read")
      assert(ack.error.exists(_.contains("stale-read conflict")), ack.error)
      assert(store2.session.getValue(n) === Artist(1, "B"))
    } finally store2.close()
  }

  test("mid-txn reads: read-your-uncommitted-writes overlay, then the commit matches") {
    // the reference client's interleaved read/write transaction window
    // (Server.hs:17-69, Client.hs:71-117): reads inside the open txn see
    // its own uncommitted state. Here: pending ops overlaid on a replica
    // snapshot — no held lock, same answers under the single-writer rule.
    val dir = Files.createTempDirectory("graft-rw-midtxn-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val mj = store.session.newNode(Artist(1, "Michael Jackson"))
    store.session.addTarget(store.session.root, mj)
    store.commit()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "mtx")

    var pRef = 0L
    var tmpRef = 0L
    val t = client.submitWithReads(TxnReads.fromReplica(replica)) { txn =>
      // snapshot pass-through before any op touches the node
      assert(txn.getValue(mj) === Artist(1, "Michael Jackson"))
      assert(txn.targets(0L) === Seq(mj))
      // a node created IN this txn is readable via its negative ref
      pRef = txn.newNode(Artist(9, "Prince"))
      assert(txn.getValue(pRef) === Artist(9, "Prince"))
      // uncommitted setValue shadows the snapshot
      txn.setValue(mj, Artist(1, "MJ"))
      assert(txn.getValue(mj) === Artist(1, "MJ"))
      // edges: snapshot + this txn's adds, removes applied in order
      txn.addTarget(0L, pRef)
      assert(txn.targets(0L) === Seq(mj, pRef))
      txn.removeTarget(0L, mj)
      assert(txn.targets(0L) === Seq(pRef))
      // the read-then-branch pattern the reference client runs mid-txn
      if (txn.targets(0L).contains(pRef)) txn.addTarget(pRef, mj)
      // removing a node: LAZY-REMOVE PARITY with the server
      // (GraphState.withoutNodes strips incoming edges only) — the value
      // and the node's own outgoing list stay readable until vacuum,
      // while the node disappears from every OTHER node's list
      tmpRef = txn.newNode(Song("Scratch"))
      txn.addTarget(0L, tmpRef)
      txn.addTarget(tmpRef, mj)
      txn.remove(tmpRef)
      assert(txn.getValue(tmpRef) === Song("Scratch"))
      assert(txn.targets(tmpRef) === Seq(mj))
      assert(txn.targets(0L) === Seq(pRef))
    }
    assert(RemoteWrite.applyPending(store, inbox).map(_.txnId) === Seq(t))
    val ack = client.await(t)
    assert(ack.applied && ack.error.isEmpty)
    val p = ack.assigned(pRef)
    // the committed state is exactly what the overlay reads predicted —
    // including the lazy-removed node: its value and outgoing edges still
    // answer on the server (pre-vacuum), exactly as the overlay said
    val tmpG = ack.assigned(tmpRef)
    assert(store.session.getValue(mj) === Artist(1, "MJ"))
    assert(store.session.targets(store.session.root) === Seq(p))
    assert(store.session.targets(p) === Seq(mj))
    assert(store.session.getValue(tmpG) === Song("Scratch"))
    assert(store.session.targets(tmpG) === Seq(mj))
    store.close()
  }

  test("mid-txn reads without a snapshot: local refs readable, globals refused loudly") {
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "mtx2")
    intercept[IllegalArgumentException] { // empty txn refused as always
      client.submit { txn =>
        val r = txn.newNode(Artist(3, "Sade"))
        assert(txn.getValue(r) === Artist(3, "Sade"))
        assert(txn.targets(r) === Seq.empty)
        // a global id cannot be answered without a snapshot — loud, typed
        val e = intercept[NoSuchElementException](txn.getValue(0L))
        assert(e.getMessage.contains("no snapshot"))
        txn.ops.clear() // leave it empty to end via the empty-txn require
      }
    }
  }

  test("unknown global id is refused up front: typed ack, no poison, serve continues") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "gref")
    val before = store.session.getStats()
    val bad = client.submit { txn => txn.addTarget(0L, 424242L) }
    val good = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("fine"))) }
    // the bad-global txn used to pass structural validation, throw inside
    // commit, poison the loop, and wedge it forever on re-poll — now it is
    // a refusal BEFORE any mutation, and later txns still apply
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.size === 2)
    val ackBad = client.await(bad)
    assert(!ackBad.applied)
    assert(ackBad.error.exists(_.contains("unknown or removed global ids")))
    assert(client.await(good).applied,
      "one bad client txn must not block the serve loop")
    assert(store.session.getStats()._1 === before._1 + 1)
    store.close()
  }

  test("setValue after remove of a tx-local node is refused atomically") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "zomb")
    // deterministic pill: passes the tx-local-defined check, but the
    // session's unknown-id guard would fail it mid-apply — must refuse
    val t = client.submit { txn =>
      val n = txn.newNode(Song("doomed"))
      txn.addTarget(0L, n)
      txn.remove(n)
      txn.setValue(n, Song("zombie"))
    }
    val before = store.session.getStats()
    RemoteWrite.applyPending(store, inbox)
    val ack = client.await(t)
    assert(!ack.applied)
    assert(ack.error.exists(_.contains("removed earlier in this txn")))
    assert(store.session.getStats() === before, "refused txn must change nothing")
    store.close()
  }

  test("a global id removed by an earlier txn in the same poll is refused") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "xtxn")
    var ref = 0L
    val t1 = client.submit { txn =>
      ref = txn.newNode(Genre("ephemeral")); txn.addTarget(0L, ref)
    }
    RemoteWrite.applyPending(store, inbox)
    val gid = client.await(t1).assigned(ref)
    // one poll, two txns: the first removes gid, the second references it —
    // the driver-side created/removed tracking must catch this without a
    // second existence-check job
    client.submit(txn => txn.remove(gid))
    val t3 = client.submit(txn => txn.setValue(gid, Genre("too-late")))
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.map(_.applied) === Seq(true, false))
    assert(client.await(t3).error.exists(_.contains("unknown or removed global ids")))
    store.close()
  }

  test("deterministic poison pill is quarantined after MaxApplyAttempts; loop stays live") {
    val dir = Files.createTempDirectory("graft-rw-quar-").toString
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "pill")
    val t = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("pill"))) }

    // attempt 1: fail-stop mid-apply, owner recovers by reopening
    var store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    store.failNextWalPublish = true
    intercept[ApplyFailedException](RemoteWrite.applyPending(store, inbox))
    store.abandon()
    // attempt 2 (the one retry a transient fault would have earned)
    store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    store.failNextWalPublish = true
    intercept[ApplyFailedException](RemoteWrite.applyPending(store, inbox))
    store.abandon()
    // third poll: quarantined with a refused ack — the serve loop must NOT
    // wedge forever re-applying a deterministic pill (liveness; the
    // reference refuses bad txns with ClientFailure without dying)
    store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.size === 1 && !acks.head.applied)
    assert(acks.head.error.exists(_.contains("quarantined")))
    assert(client.await(t).error.exists(_.contains("quarantined")))
    assert(Files.exists(Paths.get(inbox).resolve("quarantined").resolve(s"$t.txn")),
      "quarantined txn is moved aside for inspection, not deleted")
    val t2 = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("after"))) }
    RemoteWrite.applyPending(store, inbox)
    assert(client.await(t2).applied, "the loop serves normally after quarantine")
    store.close()
  }

  test("transient mid-apply failure: the retry succeeds and clears the strike") {
    val dir = Files.createTempDirectory("graft-rw-transient-").toString
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "flaky")
    var ref = 0L
    val t = client.submit { txn =>
      ref = txn.newNode(Song("eventually")); txn.addTarget(0L, ref)
    }
    var store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    store.failNextWalPublish = true // one transient fault
    intercept[ApplyFailedException](RemoteWrite.applyPending(store, inbox))
    assert(Files.exists(Paths.get(inbox).resolve("_failed").resolve(t)))
    store.abandon()
    // recovery + retry: applies cleanly AND clears the failure marker, so
    // an unrelated failure years later starts from strike zero instead of
    // inheriting this one toward quarantine
    store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.size === 1 && acks.head.applied)
    assert(store.session.getValue(acks.head.assigned(ref)) === Song("eventually"))
    assert(!Files.exists(Paths.get(inbox).resolve("_failed").resolve(t)),
      "a successful apply must clear the txn's failure marker")
    store.close()
  }

  test("crash between drain and ack replays the RECORDED ack — no duplicate apply") {
    val dir = Files.createTempDirectory("graft-rw-ackloss-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "ackloss")
    var ref = 0L
    val t = client.submit { txn =>
      ref = txn.newNode(Song("once")); txn.addTarget(0L, ref)
    }
    RemoteWrite.applyPending(store, inbox)
    val ack1 = client.await(t)
    val gid = ack1.assigned(ref)
    val statsAfter = store.session.getStats()
    // simulate the crash window: the txn's WAL batch (tagged with its ack)
    // is durable, but the crash hit before the ack/archive writes landed —
    // the txn dir is back in the inbox, un-acked
    Files.delete(Paths.get(inbox).resolve("acks").resolve(s"$t.json"))
    Files.move(Paths.get(inbox).resolve("applied").resolve(s"$t.txn"),
      Paths.get(inbox).resolve(s"$t.txn"))
    store.abandon()
    val reopened = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val acks = RemoteWrite.applyPending(reopened, inbox)
    // re-applying would mint a SECOND Song("once") with a fresh id — a
    // duplicated subgraph reachable from root that no ack ever names; the
    // recovery must instead replay the recorded ack with the ORIGINAL ids
    assert(acks.map(a => (a.txnId, a.applied, a.assigned))
      === Seq((t, true, ack1.assigned)))
    assert(client.await(t).assigned === ack1.assigned)
    assert(reopened.session.getStats() === statsAfter,
      "recovered poll must not duplicate the already-durable subgraph")
    assert(reopened.session.getValue(gid) === Song("once"))
    reopened.close()
  }

  test("group commit: a poll of N applied txns publishes ONE WAL batch tagged with every ack") {
    val (store, storeDir) = freshStore()
    val inbox = freshInbox()
    val ca = new Client(spark, CatalogueModel, inbox, "gc-a")
    val cb = new Client(spark, CatalogueModel, inbox, "gc-b")
    val t1 = ca.submit { txn => txn.addTarget(0L, txn.newNode(Song("gc1"))) }
    val t2 = ca.submit { txn => txn.addTarget(0L, txn.newNode(Song("gc2"))) }
    val t3 = cb.submit { txn => txn.addTarget(0L, txn.newNode(Genre("gc3"))) }
    val before = batchDirs(storeDir)
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.size === 3 && acks.forall(_.applied))
    val fresh = (batchDirs(storeDir) -- before).toSeq
    assert(fresh.size === 1,
      "3 applied txns must group-commit as ONE WAL publish, not 3")
    val tagLines = Files.readString(Paths.get(fresh.head).resolve("_txnmeta.json"))
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(tagLines.size === 3, "the group batch must carry every member's ack tag")
    Seq(t1, t2, t3).foreach(t => assert(tagLines.exists(_.contains(s""""txnId": "$t"""")),
      s"tag for $t missing from the group batch"))
    assert(store.session.getStats()._1 === 4L)
    store.close()
  }

  test("group crash window: every member's RECORDED ack replays — no duplicate apply") {
    val dir = Files.createTempDirectory("graft-rw-gcloss-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "gcloss")
    var r1 = 0L; var r2 = 0L; var r3 = 0L
    val t1 = client.submit { txn => r1 = txn.newNode(Song("m1")); txn.addTarget(0L, r1) }
    val t2 = client.submit { txn => r2 = txn.newNode(Song("m2")); txn.addTarget(0L, r2) }
    val t3 = client.submit { txn => r3 = txn.newNode(Genre("m3")); txn.addTarget(0L, r3) }
    RemoteWrite.applyPending(store, inbox)
    val first = Seq(t1, t2, t3).map(t => t -> client.await(t).assigned).toMap
    val stats = store.session.getStats()
    // the crash hit after the ONE group WAL publish but before any of the
    // three ack/archive writes: all three dirs back in the inbox, un-acked
    Seq(t1, t2, t3).foreach { t =>
      Files.delete(Paths.get(inbox).resolve("acks").resolve(s"$t.json"))
      Files.move(Paths.get(inbox).resolve("applied").resolve(s"$t.txn"),
        Paths.get(inbox).resolve(s"$t.txn"))
    }
    store.abandon()
    val reopened = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val acks = RemoteWrite.applyPending(reopened, inbox)
    // the multi-tag batch file must resolve EVERY member through the live
    // walk: each gets its ORIGINAL mapping back, nothing re-applies
    assert(acks.map(a => (a.txnId, a.applied, a.assigned)).toSet
      === Set((t1, true, first(t1)), (t2, true, first(t2)), (t3, true, first(t3))))
    assert(reopened.session.getStats() === stats,
      "recovered poll must not duplicate the already-durable subgraph")
    reopened.close()
  }

  test("group crash window across close(): the archival sidecar resolves every member") {
    val dir = Files.createTempDirectory("graft-rw-gcsidecar-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "gcside")
    val t1 = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("s1"))) }
    val t2 = client.submit { txn => txn.addTarget(0L, txn.newNode(Song("s2"))) }
    RemoteWrite.applyPending(store, inbox)
    val first = Seq(t1, t2).map(t => t -> client.await(t).assigned).toMap
    val stats = store.session.getStats()
    // clean close BETWEEN the poll and the crash simulation: the events dir
    // archives and its multi-tag batch flattens into _txnmeta-index.json —
    // recovery must resolve both members from the SIDECAR, not the walk
    store.close()
    Seq(t1, t2).foreach { t =>
      Files.delete(Paths.get(inbox).resolve("acks").resolve(s"$t.json"))
      Files.move(Paths.get(inbox).resolve("applied").resolve(s"$t.txn"),
        Paths.get(inbox).resolve(s"$t.txn"))
    }
    val reopened = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val acks = RemoteWrite.applyPending(reopened, inbox)
    assert(acks.map(a => (a.txnId, a.applied, a.assigned)).toSet
      === Set((t1, true, first(t1)), (t2, true, first(t2))))
    assert(reopened.session.getStats() === stats)
    reopened.close()
  }

  test("multi-member flush failure: no innocent strikes; next poll degrades to per-txn and recovers") {
    val dir = Files.createTempDirectory("graft-rw-gcfail-").toString
    val inbox = freshInbox()
    val client = new Client(spark, CatalogueModel, inbox, "gcfail")
    val ts = (1 to 3).map(i =>
      client.submit { txn => txn.addTarget(0L, txn.newNode(Song(s"gf$i"))) })
    var store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    store.failNextWalPublish = true
    intercept[ApplyFailedException](RemoteWrite.applyPending(store, inbox))
    // the guilty member is unknown — nobody may inherit a quarantine
    // strike; the poll-level marker records the failure instead
    ts.foreach(t => assert(!Files.exists(Paths.get(inbox).resolve("_failed").resolve(t)),
      s"innocent member $t must not be struck for an unattributable flush failure"))
    assert(Files.exists(Paths.get(inbox).resolve("_failed").resolve("_flush")))
    store.abandon()
    // recovery poll runs per-txn (one WAL publish per member) so a
    // deterministic pill would now fail ALONE; here all are innocent —
    // everything applies and the marker clears
    store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val before = batchDirs(dir)
    val acks = RemoteWrite.applyPending(store, inbox)
    assert(acks.size === 3 && acks.forall(_.applied))
    assert((batchDirs(dir) -- before).size === 3,
      "the degraded poll must flush per-txn to attribute any pill")
    assert(!Files.exists(Paths.get(inbox).resolve("_failed").resolve("_flush")),
      "a fully-landed poll clears the flush marker — the next poll groups again")
    assert(store.session.getStats()._1 === 4L)
    store.close()
  }

  test("group chunking: the op bound splits a big poll into bounded flushes") {
    val prev = RemoteWrite.GroupCommitMaxOps
    try {
      RemoteWrite.GroupCommitMaxOps = 2
      val (store, storeDir) = freshStore()
      val inbox = freshInbox()
      val c = new Client(spark, CatalogueModel, inbox, "gc-chunk")
      (1 to 3).foreach(i =>
        c.submit { txn => txn.addTarget(0L, txn.newNode(Song(s"ch$i"))) })
      val before = batchDirs(storeDir)
      val acks = RemoteWrite.applyPending(store, inbox)
      assert(acks.size === 3 && acks.forall(_.applied))
      // 2 ops per txn at a 2-op bound: every txn flushes its own batch —
      // the bound keeps one poll's WAL batch driver-memory-sized
      assert((batchDirs(storeDir) -- before).size === 3)
      assert(store.session.getStats()._1 === 4L)
      store.close()
    } finally RemoteWrite.GroupCommitMaxOps = prev
  }

  test("a poll serving N txns reads the inbox with no Spark job") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val ca = new Client(spark, CatalogueModel, inbox, "batch-a")
    val cb = new Client(spark, CatalogueModel, inbox, "batch-b")
    ca.submit { txn => txn.addTarget(0L, txn.newNode(Song("s1"))) }
    ca.submit { txn => txn.addTarget(0L, txn.newNode(Song("s2"))) }
    cb.submit { txn => txn.addTarget(0L, txn.newNode(Genre("g1"))) }
    var acks = Seq.empty[TxnAck]
    val cost = graft.tools.CostProbe.costOf(spark) {
      acks = RemoteWrite.applyPending(store, inbox)
    }
    assert(acks.size === 3 && acks.forall(_.applied))
    // a Spark read of the inbox is a SQL execution whose stages are called
    // from RemoteWrite; what jobs a poll runs belong to the store
    assert(cost.sqlExecutions === 0, s"a poll of 3 txns cost $cost")
    assert(!cost.stages.exists(st => Seq("RemoteWrite", "OpBatchFile").exists(st.site.contains)),
      s"no job may read the inbox: ${cost.stages.map(_.site)}")
    assert(store.session.getStats()._1 === 4L)
    store.close()
  }

  test("a txn one op over the bound is refused alone; its neighbours in the poll apply") {
    val saved = GraphStore.maxReplayBatchRows
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val c = new Client(spark, CatalogueModel, inbox, "bound")
    try {
      GraphStore.maxReplayBatchRows = 4
      def ship(name: String, sets: Int) = c.submit { txn =>
        val s = txn.newNode(Song(name))
        txn.addTarget(0L, s)
        (1 to sets).foreach(i => txn.setValue(s, Song(s"$name$i")))
      }
      val at = ship("at", 2) // 4 ops: the bound
      val over = ship("over", 3) // 5 ops
      val after = ship("after", 0)
      val acks = RemoteWrite.applyPending(store, inbox).map(a => a.txnId -> a).toMap
      assert(acks(at).applied && acks(after).applied, acks)
      assert(!acks(over).applied && acks(over).error.exists(_.startsWith("txn exceeds 4 ops")),
        acks(over))
    } finally GraphStore.maxReplayBatchRows = saved
    assert(store.session.getStats()._1 === 3L)
    store.close()
  }

  test("a corrupt or foreign-schema txn dir is refused as undecodable alone") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val c = new Client(spark, CatalogueModel, inbox, "bad")
    val ids = (0 until 3).map(i => c.submit(txn => txn.addTarget(0L, txn.newNode(Song(s"s$i")))))
    def dataFile(txnId: String) = GraphStore.listPaths(Paths.get(inbox).resolve(s"$txnId.txn"))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    // txn 0: its parquet file is not parquet
    Files.write(dataFile(ids(0)), Array.fill[Byte](64)(7))
    // txn 2: a parquet file of a foreign schema
    val foreign = Files.createTempDirectory("graft-rw-foreign-").resolve("b")
    OpBatchFile.write(spark,
      org.apache.spark.sql.types.StructType.fromDDL("a STRING, b BIGINT"),
      Seq(org.apache.spark.sql.Row("x", 1L), org.apache.spark.sql.Row("y", 2L)), foreign)
    val f2 = dataFile(ids(2))
    Files.delete(f2)
    Files.copy(GraphStore.listPaths(foreign).find(_.getFileName.toString.endsWith(".parquet")).get, f2)
    val acks = RemoteWrite.applyPending(store, inbox).map(a => a.txnId -> a).toMap
    assert(acks(ids(1)).applied, acks)
    Seq(ids(0), ids(2)).foreach { id =>
      assert(!acks(id).applied && acks(id).error.exists(_.startsWith("undecodable txn")), acks(id))
    }
    assert(store.session.getStats()._1 === 2L)
    store.close()
  }

  test("a stale-read window over the bound refuses; new nodes do not count toward it") {
    val saved = GraphStore.maxReplayBatchRows
    val dir = Files.createTempDirectory("graft-rw-window-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val n = store.session.newNode(Artist(1, "v0"))
    store.session.addTarget(store.session.root, n)
    store.commit()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val snap = RemoteWrite.TxnReads.fromReplica(replica)
    val inbox = freshInbox()
    val b = new Client(spark, CatalogueModel, inbox, "wb")
    val a = new Client(spark, CatalogueModel, inbox, "wa")
    def apply(id: String, c: Client[Cat]) = {
      RemoteWrite.applyPending(store, inbox)
      c.await(id)
    }
    def readThenWrite() = a.submitWithReads(snap) { txn =>
      txn.setValue(n, Artist(1, txn.getValue(n).asInstanceOf[Artist].name + "+A"))
    }
    try {
      GraphStore.maxReplayBatchRows = 2
      // after the mark: set n; new x + add root→x — 2 mutations, 3 ops
      assert(apply(b.submit(txn => txn.setValue(n, Artist(1, "B"))), b).applied)
      val shipped = b.submit { txn => txn.addTarget(0L, txn.newNode(Genre("x"))) }
      val x = apply(shipped, b).assigned.values.head
      val inWindow = apply(readThenWrite(), a)
      assert(!inWindow.applied &&
        inWindow.error.exists(_.startsWith(s"stale-read conflict: node(s) $n ")), inWindow)
      // a third mutation passes the bound: the window itself is refused
      assert(apply(b.submit(txn => txn.setValue(x, Genre("y"))), b).applied)
      val past = apply(readThenWrite(), a)
      assert(!past.applied && past.error.exists(e =>
        e.contains("more than 2 mutations since the snapshot mark") &&
          e.contains("fresh snapshot")), past)
    } finally GraphStore.maxReplayBatchRows = saved
    assert(store.session.getValue(n) === Artist(1, "B"))
    store.close()
  }

  test("property: interleaved clients == serial application in server apply order") {
    // the reference's serializability claim (APITests.hs:52-68 runs random
    // client programs against the server and checks the final catalogue):
    // K clients ship random op mixes before any poll; the server applies
    // them in its deterministic apply order; re-running the SAME logical
    // txns serially through a fresh in-memory session in ack order — with
    // refused txns skipped — must produce identical observable state AND
    // identical id mappings.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    sealed trait TOp
    case class TNew(v: Cat) extends TOp
    case class TLink(si: Int, di: Int) extends TOp
    case class TUnlink(si: Int, di: Int) extends TOp
    case class TSet(i: Int, v: Cat) extends TOp
    case class TRemove(i: Int) extends TOp
    case object TBadGlobal extends TOp

    val genValue: Gen[Cat] = Gen.oneOf(
      Gen.chooseNum(1, 9).flatMap(u => Gen.identifier.map(n => Artist(u, n.take(6)))),
      Gen.identifier.map(n => Genre(n.take(6))),
      Gen.identifier.map(n => Song(n.take(6))))
    val genTxn: Gen[List[TOp]] = Gen.listOfN(4, Gen.frequency(
      4 -> genValue.map(TNew),
      3 -> Gen.zip(Gen.chooseNum(0, 9), Gen.chooseNum(0, 9)).map((TLink.apply _).tupled),
      1 -> Gen.zip(Gen.chooseNum(0, 9), Gen.chooseNum(0, 9)).map((TUnlink.apply _).tupled),
      1 -> Gen.zip(Gen.chooseNum(0, 9), genValue).map((TSet.apply _).tupled),
      1 -> Gen.chooseNum(0, 9).map(TRemove),
      1 -> Gen.const(TBadGlobal)))

    // one interpreter for both sides: handle 0 is the root; TNew grows the
    // handle list via the supplied allocator, every other op resolves
    // handle indices modulo the current list — identical streams of calls
    // on the client builder and on the serial session by construction
    def interpret(ops: List[TOp], newNode: Cat => Long, setValue: (Long, Cat) => Unit,
        addTarget: (Long, Long) => Unit, removeTarget: (Long, Long) => Unit,
        remove: Long => Unit): Unit = {
      val handles = scala.collection.mutable.ArrayBuffer(0L)
      def h(i: Int): Long = handles(i % handles.size)
      ops.foreach {
        case TNew(v) => handles += newNode(v)
        case TLink(si, di) => addTarget(h(si), h(di))
        case TUnlink(si, di) => removeTarget(h(si), h(di))
        case TSet(i, v) => setValue(h(i), v)
        case TRemove(i) => remove(h(i))
        case TBadGlobal => addTarget(0L, 999999L)
      }
    }

    (1 to 2).foreach { round =>
      val txnsPerClient = (0 until 3).map { c =>
        (0 until 2).map { k =>
          genTxn(Gen.Parameters.default, Seed(1000L * round + 10L * c + k))
            .getOrElse(sys.error("gen failed"))
        }
      }
      val (store, _) = freshStore()
      val inbox = freshInbox()
      val shipped = scala.collection.mutable.Map[String, List[TOp]]()
      txnsPerClient.zipWithIndex.foreach { case (txns, c) =>
        val client = new Client(spark, CatalogueModel, inbox, s"p$round-c$c")
        txns.foreach { ops =>
          val id = client.submit { txn =>
            interpret(ops, txn.newNode, txn.setValue, txn.addTarget,
              txn.removeTarget, txn.remove)
          }
          shipped(id) = ops
        }
      }
      val acks = RemoteWrite.applyPending(store, inbox)
      assert(acks.size === 6)

      // serial re-application in the server's apply order, refusals skipped
      val serial = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
      acks.filter(_.applied).foreach { ack =>
        val mapping = scala.collection.mutable.Map[Long, Long]()
        var local = 0L
        interpret(shipped(ack.txnId),
          v => { local -= 1; mapping(local) = serial.newNode(v); local },
          (n, v) => serial.setValue(if (n < 0) mapping(n) else n, v),
          (s, d) => serial.addTarget(if (s < 0) mapping(s) else s, if (d < 0) mapping(d) else d),
          (s, d) => serial.removeTarget(if (s < 0) mapping(s) else s, if (d < 0) mapping(d) else d),
          n => serial.remove(if (n < 0) mapping(n) else n))
        assert(mapping.toMap === ack.assigned,
          s"round $round: serial ids must equal the server's assigned ids for ${ack.txnId}")
      }
      def dump(st: graft.graph.GraphState[Cat]) = (
        st.nodes.select("id", "kind", "value").collect().map(_.toString).toSet,
        st.edges.select("src", "dst").collect().map(_.toString).toSet,
        st.index.select("src", "kkind", "key", "dst").collect().map(_.toString).toSet)
      assert(dump(store.session.applied()) === dump(serial.applied()),
        s"round $round: interleaved apply must equal serial apply in ack order")
      store.close()
    }
  }

  test("restarted client resumes its seq; serve loop answers a live client") {
    val (store, _) = freshStore()
    val inbox = freshInbox()
    val c1 = new Client(spark, CatalogueModel, inbox, "live")
    val t1 = c1.submit { txn => txn.addTarget(0L, txn.newNode(Song("one"))) }

    @volatile var serving = true
    val server = new Thread(() =>
      RemoteWrite.serveWhile(store, inbox, pollMs = 20L)(() => serving))
    server.start()
    try {
      assert(c1.await(t1).applied)
      // a NEW client instance with the same id must not reuse seq 0
      val c2 = new Client(spark, CatalogueModel, inbox, "live")
      val t2 = c2.submit { txn => txn.addTarget(0L, txn.newNode(Song("two"))) }
      assert(t2 !== t1)
      assert(c2.await(t2).applied)
    } finally {
      serving = false
      server.join(5000)
    }
    assert(store.session.getStats()._1 === 3L) // root + two songs
    store.close()
  }
}
