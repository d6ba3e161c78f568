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

    // writer keeps writing; a second catchUp resumes from durable offsets
    // and applies ONLY the new batch
    val thriller = s2.session.newNode(Song("Thriller"))
    s2.session.addTarget(s2.session.root, thriller)
    s2.session.addTarget(thriller, mj)
    s2.commit()
    replica.catchUp()
    assert(replica.getStats() === s2.session.getStats())
    assert(replica.getValue(thriller) === Song("Thriller"))

    // a checkpoint-less replica replays the full WAL from empty instead
    val fromScratch = GraphReplica.bootstrap(spark, CatalogueModel,
      { // store with events only: copy session-2 events, no checkpoint
        val d2 = Files.createTempDirectory("graft-replica-nockpt-")
        val src = java.nio.file.Paths.get(dir)
        Files.list(src).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".events"))
          .foreach { ev => copyTree(ev, d2.resolve(ev.getFileName)) }
        d2.toString
      })
    assert(fromScratch.bootstrapIndex === 0L)
    fromScratch.catchUp()
    // session 2's WAL alone holds ops since checkpoint 1 — 2 new nodes
    assert(fromScratch.currentState.nodes.count() === 2L)

    s2.close()
  }

  test("replica live-tails a committing writer (ProcessingTime trigger)") {
    val dir = Files.createTempDirectory("graft-replica-tail-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val a = g.newNode(Artist(1, "First"))
    g.addTarget(g.root, a)
    store.commit()

    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    val q = replica.follow(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
    def awaitNodes(expect: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var n = -1L
      while (n != expect && System.nanoTime() < deadline) {
        Thread.sleep(250)
        n = replica.currentState.nodes.count()
      }
      assert(n === expect, s"replica stuck at $n nodes, want $expect")
    }
    awaitNodes(2L) // root + First

    // the writer keeps committing WHILE the replica serves — the tail must
    // pick the new batch up without a new bootstrap
    val b = g.newNode(Song("Second"))
    g.addTarget(g.root, b)
    store.commit()
    awaitNodes(3L)
    assert(replica.getValue(b) === Song("Second"))

    q.stop()
    store.close()
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

    // maxFilesPerTrigger=1: every trigger delivers ONE file, so the bulk
    // dir is guaranteed to arrive split. Polling between triggers must
    // only ever observe commit-boundary prefixes — 0 or all 40 bulk edges,
    // never a torn subset (the scaladoc's prefix guarantee).
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.trackPendingStats = true
    val q = replica.follow(
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxFilesPerTrigger = 1)
    var seen = Set.empty[Int]
    while (q.isActive) { seen += replica.targets(a).size; Thread.sleep(50) }
    q.awaitTermination()
    seen += replica.targets(a).size
    assert(seen.subsetOf(Set(0, 40)), s"observed torn bulk edge counts: $seen")
    assert(replica.targets(a).sorted === (100L to 139L))

    // memory bound (the scaladoc's "one in-flight publish unit" claim,
    // asserted rather than prose): while the split dir dribbled in one
    // file per trigger, the pending buffer never held more than that ONE
    // dir, never more than ITS rows checkpointed...
    assert(replica.maxPendingDirsObserved === 1,
      s"pending buffer held ${replica.maxPendingDirsObserved} dirs")
    assert(replica.maxPendingRowsObserved <= 40L,
      s"pending buffer held ${replica.maxPendingRowsObserved} rows — " +
        "more than the split dir's own 40")
    // ...and once the dir applied, the buffer drained and every retained
    // trigger checkpoint was unpersisted deterministically (not left for
    // GC): the released RDDs must be gone from block storage
    assert(replica.pendingDirCount === 0 && replica.retainedCkptCount === 0)
    assert(replica.releasedRddIds.nonEmpty)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(replica.releasedRddIds.forall(id => !live.contains(id)),
      "released trigger checkpoints must leave block storage")
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

  test("getValues answers N point reads in one Spark job") {
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

    // counted as Spark jobs: the read runs on the tables' planned RDDs,
    // with no Dataset action to count
    var got = Map.empty[Long, Cat]
    val cost = graft.tools.CostProbe.costOf(spark) {
      got = replica.getValues(ids :+ 424242L) // unknown id → absent
    }
    assert(got === ids.zipWithIndex.map { case (id, i) =>
      id -> Artist(i + 1, s"A${i + 1}")
    }.toMap)
    assert(cost.jobs === 1, s"N point reads must batch into ONE job, saw $cost")
    s2.close()
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
