package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.graph._

/** Read-replica suite — the serve/client analog (reference Server.hs /
  * Client.hs behavior, SURVEY §2.A): a replica bootstrapped from the
  * writer's checkpoint converges to the writer through the live WAL, and
  * the model-version handshake refuses an incompatible store.
  */
class ReplicaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("replica: checkpoint bootstrap + live WAL tail converges; reads serve") {
    val dir = Files.createTempDirectory("graft-replica-").toString

    // session 1: checkpointed history
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val mj = s1.session.newNode(Artist(1, "Michael Jackson"))
    s1.session.addTarget(s1.session.root, mj)
    s1.close() // checkpoint 1

    // session 2: live writer with published-but-uncheckpointed batches
    val s2 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val bj = s2.session.newNode(Song("Billie Jean"))
    s2.session.addTarget(s2.session.root, bj)
    s2.session.addTarget(bj, mj)
    s2.commit() // batch on disk; store still open, lock held

    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    assert(replica.bootstrapIndex === 1L, "must bootstrap from checkpoint 1")
    replica.catchUp()

    // replica reads == writer reads (no writer lock was taken)
    assert(replica.getStats() === s2.session.getStats())
    assert(replica.getValue(mj) === Artist(1, "Michael Jackson"))
    assert(replica.getValue(bj) === Song("Billie Jean"))
    assert(replica.getTargets(s2.session.root,
      IndexKey("Catalogue_Artist_Name", "Michael Jackson")) === Seq(mj))
    assert(replica.targets(bj) === Seq(mj))
    assert(replica.sources(mj).sorted === Seq(s2.session.root, bj).sorted)

    // writer keeps writing; a second catchUp resumes from the replica's
    // mark and applies ONLY the new batch
    val thriller = s2.session.newNode(Song("Thriller"))
    s2.session.addTarget(s2.session.root, thriller)
    s2.session.addTarget(thriller, mj)
    s2.commit()
    replica.catchUp()
    assert(replica.getStats() === s2.session.getStats())
    assert(replica.getValue(thriller) === Song("Thriller"))
    s2.close()

    // a checkpoint-less store (a writer that never closed) is replayed from
    // empty: its WAL holds every op, the root's NewNode included
    val nockpt = Files.createTempDirectory("graft-replica-nockpt-").toString
    val s3 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, nockpt)
    val a = s3.session.newNode(Artist(1, "A"))
    s3.session.addTarget(s3.session.root, a)
    s3.session.addTarget(a, s3.session.newNode(Song("S")))
    s3.commit()
    val fromScratch = GraphReplica.bootstrap(spark, CatalogueModel, nockpt)
    assert(fromScratch.bootstrapIndex === 0L)
    fromScratch.catchUp()
    assert(fromScratch.currentState.nodes.count() === 3L)
    assert(fromScratch.getStats() === s3.session.getStats())
    s3.abandon()
  }

  test("replica folds bulk-ingest WAL batches set-wise") {
    val dir = Files.createTempDirectory("graft-replica-bulk-").toString
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val a = s1.session.newNode(Artist(1, "Hub"))
    s1.session.addTarget(s1.session.root, a)
    s1.commit()
    import spark.implicits._
    s1.commitBulk(Seq((a, 100L), (a, 101L), (a, 102L)).toDF("src", "dst"))

    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    assert(replica.targets(a).sorted === Seq(100L, 101L, 102L))
    // edge counts match the writer's view of the same bulk delta
    assert(replica.currentState.edges.count() ===
      s1.session.applied().edges.count())
    s1.close()
  }

  test("split bulk dir: a multi-file batch is applied whole across triggers") {
    val dir = Files.createTempDirectory("graft-replica-split-").toString
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val a = s1.session.newNode(Artist(1, "Hub"))
    s1.session.addTarget(s1.session.root, a)
    s1.commit()
    import spark.implicits._
    // 4 partitions → one batch-K-bulk dir holding 4 part files. AQE would
    // coalesce this tiny shuffle to ONE partition (and one file), hiding
    // exactly the multi-file case that occurs at real bulk sizes — off
    // for the write.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try s1.commitBulk((100L to 139L).map(d => (a, d)).toDF("src", "dst")
      .repartition(4))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // sanity: the bulk dir really is multi-file, else the test is vacuous
    val bulkFiles = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".events"))
      .flatMap(ev => Files.list(ev).iterator().asScala)
      .filter(_.getFileName.toString.endsWith("-bulk"))
      .flatMap(b => Files.list(b).iterator().asScala)
      .map(_.getFileName.toString)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .size
    assert(bulkFiles > 1, s"expected a multi-file bulk dir, got $bulkFiles file(s)")

    // a reader polling while the catch-up runs must only ever observe
    // commit-boundary prefixes — 0 or all 40 bulk edges, never a torn
    // subset (the scaladoc's prefix guarantee)
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    @volatile var failure: Throwable = null
    val catching = new Thread(() =>
      try replica.catchUp() catch { case e: Throwable => failure = e })
    catching.start()
    var seen = Set.empty[Int]
    while (catching.isAlive) { seen += replica.targets(a).size; Thread.sleep(5) }
    catching.join()
    assert(failure === null)
    seen += replica.targets(a).size
    assert(seen.subsetOf(Set(0, 40)), s"observed torn bulk edge counts: $seen")
    assert(replica.targets(a).sorted === (100L to 139L))
    s1.close()
  }

  test("store path with space and percent: batches are not misread as torn") {
    // input_file_name() returns a PERCENT-ENCODED URI; a naive
    // stripPrefix("file:") gate would look up the wrong path, classify
    // every committed batch as torn, and silently drop it forever. A dir
    // name containing both a space and a literal '%' is the adversarial
    // decode case ("%2520" round-trips wrong under double-decode too).
    val base = Files.createTempDirectory("graft-replica-uri-")
    val dir = base.resolve("odd name %20dir").toString
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val a = s1.session.newNode(Artist(1, "Odd"))
    s1.session.addTarget(s1.session.root, a)
    s1.commit()
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    assert(replica.getValue(a) === Artist(1, "Odd"))
    assert(replica.targets(s1.session.root) === Seq(a))
    s1.close()
  }

  test("getValues answers N point reads in one probe, with no Spark job") {
    val dir = Files.createTempDirectory("graft-replica-batchread-").toString
    // A1-A3 in a snapshot (the replica's materialized bases), A4 and A5
    // in the WAL after it (the replica's tails)
    def artists(s: GraphStore[Cat], from: Int, to: Int): Seq[Long] = {
      val ids = (from to to).map(i => s.session.newNode(Artist(i, s"A$i")))
      ids.foreach(s.session.addTarget(s.session.root, _))
      s.commit()
      ids
    }
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val inSnapshot = artists(s1, 1, 3)
    s1.close()
    val s2 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val ids = inSnapshot ++ artists(s2, 4, 5)
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()

    // the read scans the snapshot's keyed bases in place and the tails on
    // the driver: one probe for all N ids, and no Spark job
    var got = Map.empty[Long, Cat]
    val cost = graft.tools.CostProbe.costOf(spark) {
      got = replica.getValues(ids :+ 424242L) // unknown id → absent
    }
    assert(got === ids.zipWithIndex.map { case (id, i) =>
      id -> Artist(i + 1, s"A${i + 1}")
    }.toMap)
    assert(cost.jobs === 0 && cost.sqlExecutions === 0, s"N point reads: $cost")
    s2.close()
  }

  test("catchUp stops at a gap in batch seqs and resumes there") {
    val dir = Files.createTempDirectory("graft-replica-gap-")
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    val g = store.session
    val a = g.newNode(Artist(1, "A"))
    g.addTarget(g.root, a)
    store.commit() // batch 0
    val b = g.newNode(Song("B"))
    g.addTarget(g.root, b)
    store.commit() // batch 1
    g.setValue(b, Song("B2")) // batch 2 needs batch 1 applied first
    g.addTarget(a, b)
    store.commit()

    // batch 1 missing from the listing: a publish the listing raced
    val events = dir.resolve("1.events")
    val aside = Files.createTempDirectory("graft-replica-gap-aside-").resolve("b1")
    Files.move(events.resolve("batch-000001"), aside)
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir.toString)
    replica.catchUp()
    assert(replica.watermark === ((1L, 0L)))
    assert(replica.getValue(a) === Artist(1, "A"))
    assert(replica.getValues(Seq(b)).isEmpty, "batch 1 must not apply")
    assert(replica.targets(a).isEmpty, "batch 2 must not apply past the gap")

    Files.move(aside, events.resolve("batch-000001"))
    replica.catchUp()
    assert(replica.watermark === ((1L, 2L)))
    assert(replica.getValue(b) === Song("B2"))
    assert(replica.targets(a) === Seq(b))
    assert(replica.getStats() === g.getStats())
    store.close()
  }

  test("catchUp refuses what the writer's recovery refuses; state stays") {
    // session 1 checkpoints the root and an artist; session 2's events
    // name both, so a copy holding only those events lacks the nodes
    val dir = Files.createTempDirectory("graft-replica-refuse-")
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    val mj = s1.session.newNode(Artist(1, "Michael Jackson"))
    s1.session.addTarget(s1.session.root, mj)
    s1.close()
    val s2 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    val bj = s2.session.newNode(Song("Billie Jean"))
    s2.session.addTarget(s2.session.root, bj)
    s2.session.addTarget(bj, mj)
    s2.commit()
    val copy = Files.createTempDirectory("graft-replica-refuse-copy-")
    copyTree(dir.resolve("2.events"), copy.resolve("2.events"))
    s2.close()

    val replica = GraphReplica.bootstrap(spark, CatalogueModel, copy.toString)
    val (state, mark) = (replica.currentState, replica.watermark)
    intercept[IllegalArgumentException](replica.catchUp())
    assert(replica.currentState eq state)
    assert(replica.watermark === mark)
    assert(replica.currentState.nodes.count() === 0L)
    intercept[IllegalArgumentException](
      GraphStore.open(spark, CatalogueModel, CatRoot: Cat, copy.toString))
  }

  test("catchUp cost: nothing new runs no job; 10 new+add batches one job, no SQL") {
    val dir = Files.createTempDirectory("graft-replica-cost-").toString
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    s1.session.addTarget(s1.session.root, s1.session.newNode(Artist(1, "A")))
    s1.close() // the replica's bases are the materialized checkpoint
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()

    val idle = graft.tools.CostProbe.costOf(spark)(replica.catchUp())
    assert(idle.jobs === 0, s"a catch-up with nothing new ran $idle")

    (1 to 10).foreach { i =>
      g.addTarget(g.root, g.newNode(Song(s"s$i")))
      store.commit()
    }
    val ten = graft.tools.CostProbe.costOf(spark)(replica.catchUp())
    assert(ten.jobs <= 1 && ten.sqlExecutions === 0, s"10 batches: $ten")
    assert(replica.watermark === ((2L, 9L)))
    assert(replica.getStats() === g.getStats())
    store.close()
  }

  test("replica bootstrap refuses an incompatible store format (handshake)") {
    val dir = Files.createTempDirectory("graft-replica-fmt-")
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    s1.session.addTarget(s1.session.root, s1.session.newNode(Artist(1, "A")))
    s1.close()
    val meta = dir.resolve("1.checkpoint").resolve("_meta.json")
    Files.writeString(meta,
      Files.readString(meta).replace("\"formatVersion\": 1", "\"formatVersion\": 99"))
    val e = intercept[GraphStore.IncompatibleStoreFormatException] {
      GraphReplica.bootstrap(spark, CatalogueModel, dir.toString)
    }
    assert(e.found === 99)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
}
