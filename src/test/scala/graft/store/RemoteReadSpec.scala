package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.graph._

/** Thin-client read-shipping suite — the serve/client READ-action analog
  * (reference Client.hs:71-117 request/response per read): a client
  * holding zero graph state ships read requests over the inbox and gets
  * parquet answers served from a replica; unknown ops/ids are typed
  * refusals; re-polling never re-answers.
  */
class RemoteReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def storeWithData() = {
    val dir = Files.createTempDirectory("graft-rr-store-").toString
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

  test("thin client: every read op round-trips against a replica server") {
    val (store, dir, mj, bj) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = Files.createTempDirectory("graft-rr-inbox-").toString
    val client = new RemoteRead.Client(spark, CatalogueModel, inbox, "thin")

    @volatile var serving = true
    val server = new Thread(() =>
      RemoteRead.serveWhile(replica, inbox, pollMs = 20L)(() => serving))
    server.start()
    try {
      // the client's answers == the owner's session reads, action by action
      assert(client.getValue(mj) === Artist(1, "Michael Jackson"))
      assert(client.getValues(Seq(mj, bj, 424242L)) ===
        Map(mj -> Artist(1, "Michael Jackson"), bj -> Song("Billie Jean")),
        "batched read: unknown ids absent, not errors")
      assert(client.getTargets(store.session.root,
        IndexKey("Catalogue_Artist_Name", "Michael Jackson")) === Seq(mj))
      assert(client.targets(bj) === Seq(mj))
      assert(client.sources(mj).sorted === Seq(store.session.root, bj).sorted)
      assert(client.getStats() === store.session.getStats())
      // single-id contract: unknown id throws, like the session
      intercept[NoSuchElementException](client.getValue(999999L))
      // the server keeps serving after refusals AND sees live writes once
      // the replica catches up (the serve loop interleaves catchUp)
      val tw = store.session.newNode(Song("Thriller"))
      store.session.addTarget(store.session.root, tw)
      store.commit()
      // eventually consistent BY CONTRACT (follower reads): a request can
      // race the serve loop's catchUp and be answered from the pre-commit
      // state — retry with fresh requests until the write is visible
      val deadline = System.nanoTime() + 60L * 1000000000L
      var got = Option.empty[Cat]
      while (got.isEmpty && System.nanoTime() < deadline) {
        got = client.getValues(Seq(tw), timeoutMs = 60000L).get(tw)
        if (got.isEmpty) Thread.sleep(100L)
      }
      assert(got === Some(Song("Thriller")),
        "a committed write must become client-visible via the tailing replica")
    } finally {
      serving = false
      server.join(10000)
    }
    store.close()
  }

  test("unknown op is a typed refusal; answers are idempotent on re-poll") {
    val (store, dir, _, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = java.nio.file.Paths.get(
      Files.createTempDirectory("graft-rr-bad-").toString)
    // a foreign request with an op this server does not speak
    Files.writeString(inbox.resolve("alien-000000.req.json"),
      """{"reqId": "alien-000000", "op": "dropEverything"}""")
    val answered = RemoteRead.answerPending(replica, inbox.toString)
    assert(answered === Seq("alien-000000"))
    val err = Files.readString(
      inbox.resolve("acks").resolve("alien-000000.err.json"))
    assert(err.contains("unknown read op"))
    // second poll: already answered — nothing re-served
    assert(RemoteRead.answerPending(replica, inbox.toString).isEmpty)
    store.close()
  }

  test("restarted client resumes its seq after answered requests") {
    val (store, dir, mj, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = Files.createTempDirectory("graft-rr-seq-").toString
    val c1 = new RemoteRead.Client(spark, CatalogueModel, inbox, "re")
    // submit + answer one request (inline serve, no thread needed)
    val answerer = new Thread(() => {
      Thread.sleep(100L); RemoteRead.answerPending(replica, inbox); ()
    })
    answerer.start()
    assert(c1.getValues(Seq(mj))(mj) === Artist(1, "Michael Jackson"))
    answerer.join(10000)
    // a NEW client instance with the same id scans the answered request
    // and must NOT reuse seq 0 (its request file may already be consumed)
    val c2 = new RemoteRead.Client(spark, CatalogueModel, inbox, "re")
    val answerer2 = new Thread(() => {
      Thread.sleep(100L); RemoteRead.answerPending(replica, inbox); ()
    })
    answerer2.start()
    assert(c2.getStats() === store.session.getStats())
    answerer2.join(10000)
    // answered requests are ARCHIVED out of the inbox (poll cost stays
    // O(pending)); the archive is what the restarted client's seq scan saw
    val answered = GraphStore.listPaths(
      java.nio.file.Paths.get(inbox).resolve("answered"))
      .map(_.getFileName.toString).filter(_.endsWith(".req.json")).toSet
    assert(answered === Set("re-000000.req.json", "re-000001.req.json"))
    assert(GraphStore.listPaths(java.nio.file.Paths.get(inbox))
      .forall(!_.getFileName.toString.endsWith(".req.json")),
      "no answered request may linger in the inbox listing")
    store.close()
  }

  /** The storeWithData graph in a checkpoint — the replica's materialized
    * bases — then, in the WAL after it (the replica's tails), an artist
    * whose name (an index key) holds `"` and `\`, linked from the root and
    * from the song.
    */
  private def replicaWithBasesAndTail() = {
    val (s1, dir, mj, bj) = storeWithData()
    s1.close()
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val q = store.session.newNode(Artist(2, Quoted))
    store.session.addTarget(store.session.root, q)
    store.session.addTarget(bj, q)
    store.commit()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    (store, replica, mj, bj, q)
  }

  private val Quoted = "He said \"hi\" \\o/"

  /** A string as a JSON string literal's body (the client's escaping). */
  private def json(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  test("N same-op requests answer with O(1) Spark jobs (batched poll)") {
    val (store, replica, mj, bj, q) = replicaWithBasesAndTail()
    val st = replica.currentState
    Seq(st.nodeTable, st.edgeTable, st.indexTable).foreach(t =>
      assert(!t.base.isEmpty, "the replica's bases must be materialized"))
    val inbox = java.nio.file.Paths.get(
      Files.createTempDirectory("graft-rr-batch-").toString)
    val client = new RemoteRead.Client(spark, CatalogueModel, inbox.toString, "jb")
    def req(i: Int, body: String) =
      Files.writeString(inbox.resolve(f"jb-$i%06d.req.json"),
        f"""{"reqId": "jb-$i%06d", $body}""")
    // 6 getValues (one of them all-unknown ids → empty answer), 2 targets,
    // a malformed getTargets, 1 sources and 1 getTargets, written directly
    // so ONE poll sees them all
    (0 until 6).foreach { i =>
      req(i, s""""op": "getValues", "ids": [${if (i == 5) "424242" else s"$mj, $bj"}]""")
    }
    req(6, s""""op": "targets", "id": $bj""")
    req(7, s""""op": "targets", "id": $mj""")
    // malformed member of a batchable group: missing its id field — must
    // get its OWN typed refusal without poisoning the group's batch
    req(8, """"op": "getTargets", "kkind": "K"""")
    req(9, s""""op": "sources", "id": $mj""")
    req(10, s""""op": "getTargets", "id": 0, "kkind": "Catalogue_Artist_Name", """ +
      s""""key": "${json(Quoted)}"""")

    // a JVM compiles a scan's row projection the first time it scans a
    // table schema (the index schema here, unless an earlier spec did):
    // a one-time cache fill, paid by a poll of other requests first
    val warm = java.nio.file.Paths.get(Files.createTempDirectory("graft-rr-warm-").toString)
    Seq(""""op": "getValues", "ids": [0]""", """"op": "targets", "id": 0""",
      """"op": "sources", "id": 0""", """"op": "getTargets", "id": 0, "kkind": "K", "key": "k"""")
      .zipWithIndex.foreach { case (b, i) =>
        Files.writeString(warm.resolve(s"w-$i.req.json"), s"""{"reqId": "w-$i", $b}""")
      }
    assert(RemoteRead.answerPending(replica, warm.toString).size === 4)

    var answered = Seq.empty[String]
    val cost = graft.tools.CostProbe.costOf(spark) {
      answered = RemoteRead.answerPending(replica, inbox.toString)
    }
    assert(answered.size === 11)
    // one probe per op kind, each a scan of the keyed bases' blocks in
    // place: no Spark job, no Catalyst pass, no generated class
    assert(cost.jobs === 0 && cost.sqlExecutions === 0 && cost.compiles === 0,
      s"a poll of 4 op kinds cost $cost")
    assert(client.await("jb-000008", 5000L).result.isLeft,
      "a malformed batchable request is an individual refusal")
    // the client reads an answer from its batch file on the driver
    val read = graft.tools.CostProbe.costOf(spark)(client.await("jb-000006", 5000L))
    assert(read.jobs === 0 && read.sqlExecutions === 0, s"reading an answer cost $read")

    // every answer is a POINTER into its op group's batch dir
    val acks = inbox.resolve("acks")
    val ptrs = GraphStore.listPaths(acks)
      .map(_.getFileName.toString).filter(_.endsWith(".ptr.json"))
    assert(ptrs.size === 10, s"expected 10 pointer answers, got $ptrs")
    assert(GraphStore.listPaths(acks).forall(p =>
      !Files.isDirectory(p) || p.getFileName.toString == "batches"),
      "no per-request answer dir")
    val batches = GraphStore.listPaths(acks.resolve("batches"))
      .map(_.getFileName.toString)
    assert(batches.toSet === Set("jb-000000", "jb-000006", "jb-000009", "jb-000010"),
      "one batch dir per op group, named after the group's first request")

    // pointer answers round-trip with full value fidelity, including the
    // all-unknown request (empty result, schema intact)
    (0 until 5).foreach { i =>
      val ack = client.await(f"jb-$i%06d", timeoutMs = 5000L)
      val got = ack.result.toOption.get
        .map(r => r.getLong(0) -> CatalogueModel.fromValueRow(
          r.getString(1), r.getStruct(2))).toMap
      assert(got === Map(mj -> Artist(1, "Michael Jackson"),
        bj -> Song("Billie Jean")))
    }
    def ids(i: Int) = client.await(f"jb-$i%06d", 5000L).result.toOption.get
      .map(_.getLong(0)).toSet
    assert(ids(5).isEmpty, "all-unknown getValues answers empty WITH schema, not an error")
    assert(ids(6) === Set(mj, q))
    assert(ids(7).isEmpty)
    assert(ids(9) === Set(0L, bj))
    assert(ids(10) === Set(q))
    // re-poll: pointer answers count as answered
    assert(RemoteRead.answerPending(replica, inbox.toString).isEmpty)
    store.close()
  }

  test("property: served answers equal DataFrame reads of the replica state") {
    val (store, replica, mj, bj, q) = replicaWithBasesAndTail()
    val st = replica.currentState
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // known ids in the bases and in the tail, unknown and negative ones
    val pool = Seq(0L, mj, bj, q, 424242L, -7L)
    val keys = Seq(IndexKey("Catalogue_Artist_Name", "Michael Jackson"),
      IndexKey("Catalogue_Artist_Name", Quoted), IndexKey("Song_Artist"),
      IndexKey("K\"\\", "\\\"")) // the last one indexes nothing
    sealed trait Req { def body: String }
    case class Values(ids: List[Long]) extends Req {
      def body = s""""op": "getValues", "ids": [${ids.mkString(", ")}]"""
    }
    case class Keyed(id: Long, k: IndexKey) extends Req {
      def body = s""""op": "getTargets", "id": $id, "kkind": "${json(k.kind)}", """ +
        s""""key": "${json(k.key)}""""
    }
    case class Hop(op: String, id: Long) extends Req {
      def body = s""""op": "$op", "id": $id"""
    }
    case class Stats(from: Long) extends Req { def body = s""""op": "getStats", "id": $from""" }
    case object Alien extends Req { def body = """"op": "dropEverything"""" }
    val genReq: Gen[Req] = Gen.frequency(
      3 -> Gen.listOf(Gen.oneOf(pool)).map(Values(_)), // duplicates included
      1 -> Gen.const(Values(Nil)),
      2 -> Gen.zip(Gen.oneOf(pool), Gen.oneOf(keys)).map { case (id, k) => Keyed(id, k) },
      2 -> Gen.zip(Gen.oneOf("targets", "sources"), Gen.oneOf(pool)).map {
        case (op, id) => Hop(op, id) },
      1 -> Gen.oneOf(pool).map(Stats(_)),
      1 -> Gen.const(Alien))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def expected(r: Req): Option[Seq[String]] = r match {
      case Values(ids) => Some(rows(st.nodes.where(col("id").isin(ids: _*))
        .select("id", "kind", "value")))
      case Keyed(id, k) => Some(rows(st.targetsDF(id, k)))
      case Hop("targets", id) =>
        Some(rows(st.edges.where(col("src") === id).select("dst").distinct()))
      case Hop(_, id) =>
        Some(rows(st.edges.where(col("dst") === id).select("src").distinct()))
      case Stats(from) =>
        val (n, e, i) = st.stats(from)
        Some(Seq(org.apache.spark.sql.Row(n, e, i).toString))
      case Alien => None
    }
    // raw scalacheck Gen with fixed seeds (scalatestplus is not in the
    // offline cache) — deterministic across runs, seeds printed on failure
    (1 to 5).foreach { i =>
      val seed = 1000L + i
      val reqs = Gen.choose(1, 8).flatMap(Gen.listOfN(_, genReq))(
        Gen.Parameters.default, Seed(seed)).getOrElse(sys.error(s"gen failed for seed $seed"))
      val inbox = java.nio.file.Paths.get(Files.createTempDirectory("graft-rr-prop-").toString)
      reqs.zipWithIndex.foreach { case (r, j) =>
        Files.writeString(inbox.resolve(f"pp-$j%06d.req.json"),
          f"""{"reqId": "pp-$j%06d", ${r.body}}""")
      }
      assert(RemoteRead.answerPending(replica, inbox.toString).size === reqs.size)
      val reader = new RemoteRead.Client(spark, CatalogueModel, inbox.toString, "rd")
      reqs.zipWithIndex.foreach { case (r, j) =>
        val served = reader.await(f"pp-$j%06d", timeoutMs = 5000L).result
          .map(_.map(_.toString).sorted)
        assert(served.toOption === expected(r), s"seed $seed, request $r")
      }
    }
    store.close()
  }

  test("retention sweeps orphaned batch dirs and keeps referenced ones") {
    val (store, dir, mj, bj) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = java.nio.file.Paths.get(
      Files.createTempDirectory("graft-rr-ret-").toString)
    val client = new RemoteRead.Client(spark, CatalogueModel, inbox.toString, "rt")
    (0 until 2).foreach { i =>
      Files.writeString(inbox.resolve(f"rt-$i%06d.req.json"),
        s"""{"reqId": "rt-00000$i", "op": "getValues", "ids": [$mj, $bj]}""")
    }
    assert(RemoteRead.answerPending(replica, inbox.toString).size === 2)
    val acks = inbox.resolve("acks")
    val live = acks.resolve("batches").resolve("rt-000000")
    assert(Files.exists(live))
    // plant the crash shape: a batch dir a poll published, then died
    // before writing ANY pointer — no pointer references it, ever
    val orphan = acks.resolve("batches").resolve("zz-000000")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-00000.parquet"), "debris")
    RemoteRead.retention(inbox.toString)
    assert(!Files.exists(orphan), "unreferenced batch dir must be swept")
    assert(Files.exists(live), "pointer-referenced batch dir must survive")
    // pointer answers still resolve identically after the sweep
    val got = client.await("rt-000001", timeoutMs = 5000L)
      .result.toOption.get
      .map(r => r.getLong(0) -> CatalogueModel.fromValueRow(
        r.getString(1), r.getStruct(2))).toMap
    assert(got === Map(mj -> Artist(1, "Michael Jackson"),
      bj -> Song("Billie Jean")))
    store.close()
  }

  test("answered/ compacts past the bound; seq resume survives compaction") {
    val (store, dir, mj, _) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = java.nio.file.Paths.get(
      Files.createTempDirectory("graft-rr-cpt-").toString)
    (0 until 6).foreach { i =>
      Files.writeString(inbox.resolve(f"cp-$i%06d.req.json"),
        s"""{"reqId": "cp-00000$i", "op": "getValues", "ids": [$mj]}""")
    }
    assert(RemoteRead.answerPending(replica, inbox.toString).size === 6)
    val answered = inbox.resolve("answered")
    assert(GraphStore.listPaths(answered)
      .count(_.getFileName.toString.endsWith(".req.json")) === 6)
    RemoteRead.retention(inbox.toString, maxAnswered = 4)
    assert(GraphStore.listPaths(answered)
      .count(_.getFileName.toString.endsWith(".req.json")) === 0,
      "past the bound, archived request files compact into _seq.json")
    val seqJson = Files.readString(answered.resolve("_seq.json"))
    assert(seqJson.contains("\"cp\": 5"))
    // below the bound nothing compacts (the map is not rewritten for a
    // handful of stragglers)
    RemoteRead.retention(inbox.toString, maxAnswered = 4)
    assert(seqJson === Files.readString(answered.resolve("_seq.json")))
    // a restarted client must get its seq from the compacted map ALONE —
    // even with every acks artifact consumed and cleared, seq 0..5 are
    // burned and the next request must be cp-000006
    GraphStore.deleteRecursively(inbox.resolve("acks"))
    val c2 = new RemoteRead.Client(spark, CatalogueModel, inbox.toString, "cp")
    val answerer = new Thread(() => {
      Thread.sleep(100L); RemoteRead.answerPending(replica, inbox.toString); ()
    })
    answerer.start()
    assert(c2.getValues(Seq(mj))(mj) === Artist(1, "Michael Jackson"))
    answerer.join(10000)
    val artifacts = (GraphStore.listPaths(inbox.resolve("acks")) ++
      GraphStore.listPaths(answered)).map(_.getFileName.toString)
    assert(artifacts.exists(_.startsWith("cp-000006")),
      s"restarted client must resume at seq 6 from _seq.json, saw: $artifacts")
    store.close()
  }

  test("batch publish failure sweeps the orphan and refuses the group") {
    val (store, dir, mj, bj) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    val inbox = java.nio.file.Paths.get(
      Files.createTempDirectory("graft-rr-orph-").toString)
    val client = new RemoteRead.Client(spark, CatalogueModel, inbox.toString, "or")
    def req(i: Int) = Files.writeString(inbox.resolve(f"or-$i%06d.req.json"),
      f"""{"reqId": "or-$i%06d", "op": "getValues", "ids": [$mj, $bj]}""")
    (0 until 2).foreach(req)
    // die AFTER the atomic batch-dir move, BEFORE any pointer write: the
    // published dir is unreferenced — it must be swept, not leaked forever
    RemoteRead.failNextBatchPublish = true
    val answered = RemoteRead.answerPending(replica, inbox.toString)
    assert(answered.size === 2)
    val acks = inbox.resolve("acks")
    assert(GraphStore.listPaths(acks)
      .forall(!_.getFileName.toString.endsWith(".ptr.json")),
      "no pointer may reference the failed batch")
    assert(!Files.exists(acks.resolve("batches").resolve("or-000000")),
      "the unreferenced published batch dir must be swept")
    (0 until 2).foreach { i =>
      val refusal = client.await(f"or-$i%06d", timeoutMs = 5000L).result
      assert(refusal.left.toOption.exists(_.contains("injected batch publish failure")),
        s"each request of the group is refused with the cause: $refusal")
    }
    assert(RemoteRead.answerPending(replica, inbox.toString).isEmpty)
    // the same reads, resubmitted, are answered
    (2 until 4).foreach(req)
    assert(RemoteRead.answerPending(replica, inbox.toString) === Seq("or-000002", "or-000003"))
    (2 until 4).foreach { i =>
      val got = client.await(f"or-$i%06d", timeoutMs = 5000L)
        .result.toOption.get
        .map(r => r.getLong(0) -> CatalogueModel.fromValueRow(
          r.getString(1), r.getStruct(2))).toMap
      assert(got === Map(mj -> Artist(1, "Michael Jackson"),
        bj -> Song("Billie Jean")))
    }
    store.close()
  }

  test("a poll past the id budget answers a prefix, the next the rest") {
    val (store, dir, mj, bj) = storeWithData()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    // the same requests into two inboxes: one served under a budget of 4
    // ids, the other by one unbounded poll
    val bodies = Seq.fill(3)(s""""op": "getValues", "ids": [$mj, $bj]""") ++ Seq(
      s""""op": "targets", "id": $bj""",
      s""""op": "getValues", "ids": [0, $mj, $bj, 424242, -7]""")
    val (bounded, whole) = (
      java.nio.file.Paths.get(Files.createTempDirectory("graft-rr-fb-").toString),
      java.nio.file.Paths.get(Files.createTempDirectory("graft-rr-fb1-").toString))
    for (inbox <- Seq(bounded, whole); (b, i) <- bodies.zipWithIndex)
      Files.writeString(inbox.resolve(f"fb-$i%06d.req.json"), f"""{"reqId": "fb-$i%06d", $b}""")
    def poll() = RemoteRead.answerPoll(replica, bounded.toString, 4)
    assert(poll() === Seq("fb-000000", "fb-000001"), "2 + 2 ids fill the budget")
    assert(poll() === Seq("fb-000002", "fb-000003"), "2 + 1 ids; the next 5 would pass it")
    assert(poll() === Seq("fb-000004"), "a request past the budget is answered alone")
    assert(poll().isEmpty)
    assert(RemoteRead.answerPending(replica, whole.toString).size === 5)
    def answers(inbox: java.nio.file.Path) = {
      val reader = new RemoteRead.Client(spark, CatalogueModel, inbox.toString, "rd")
      bodies.indices.map(i => reader.await(f"fb-$i%06d", timeoutMs = 5000L).result
        .map(_.map(_.toString).sorted))
    }
    val got = answers(bounded)
    assert(got.forall(_.isRight))
    assert(got === answers(whole), "answers must not depend on how polls split the requests")
    store.close()
  }
}
