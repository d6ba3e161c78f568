package graft.graph

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.CostProbe

/** Per-operator unit tests mirroring the reference's internal suite
  * (/root/reference/executables/InternalTests/GraphTests.hs:104-167) —
  * same fixtures, same expected stats triples.
  */
class GraphSessionSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def michaelFixture(): (GraphSession[Cat], Long, Long, Long) = {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val michael = g.newNode(Artist(1, "Michael Jackson"))
    val billieJean = g.newNode(Song("Billie Jean"))
    val whoIsIt = g.newNode(Song("Who is it?"))
    g.addTarget(g.root, michael)
    g.addTarget(g.root, billieJean)
    g.addTarget(g.root, whoIsIt)
    g.addTarget(billieJean, michael)
    g.addTarget(whoIsIt, michael)
    (g, michael, billieJean, whoIsIt)
  }

  test("withTargetsDFGuarded validates endpoints; == unguarded on valid input") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val a = g.newNode(Artist(1, "A"))
    val b = g.newNode(Song("B"))
    val st = g.applied()
    val s = TestSpark.spark
    import s.implicits._
    val valid = Seq((g.root, a), (b, a)).toDF("src", "dst")
    val guarded = st.withTargetsDFGuarded(valid)
    val plain = st.withTargetsDF(valid)
    assert(guarded.edges.orderBy("src", "dst").collect().toSeq ===
      plain.edges.orderBy("src", "dst").collect().toSeq)
    assert(guarded.index.orderBy("src", "kkind", "key", "dst").collect().toSeq ===
      plain.index.orderBy("src", "kkind", "key", "dst").collect().toSeq)
    val bad = Seq((g.root, 999L)).toDF("src", "dst")
    val e = intercept[Exception] {
      st.withTargetsDFGuarded(bad).edges.collect()
    }
    assert(e.getMessage.contains("unknown node id") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown node id")))
    // the unguarded contract: the bad edge lands, silently index-less
    assert(st.withTargetsDF(bad).index
      .where(col("dst") === 999L).count() === 0L)
  }

  test("stats of the michael fixture = (4, 5, 6)  [GraphTests.hs:121-133]") {
    val (g, _, _, _) = michaelFixture()
    assert(g.getStats() === ((4L, 5L, 6L)))
  }

  test("remove detaches from all sources → (3, 2, 2)  [GraphTests.hs:104-119]") {
    val (g, michael, _, _) = michaelFixture()
    g.remove(michael)
    assert(g.getStats() === ((3L, 2L, 2L)))
    assert(g.sources(michael).isEmpty)
  }

  test("adding a node affects the stats → (2, 1, 2)  [GraphTests.hs:135-138]") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    g.addTarget(g.root, g.newNode(Artist(1, "Michael Jackson")))
    assert(g.getStats() === ((2L, 1L, 2L)))
  }

  test("removing a target affects the stats → (1, 0, 0)  [GraphTests.hs:140-145]") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val artist = g.newNode(Artist(1, "Michael Jackson"))
    g.addTarget(g.root, artist)
    g.removeTarget(g.root, artist)
    assert(g.getStats() === ((1L, 0L, 0L)))
  }

  test("addTarget is idempotent → (2, 1, 2)  [GraphTests.hs:147-152]") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val artist = g.newNode(Artist(1, "Michael Jackson"))
    g.addTarget(g.root, artist)
    g.addTarget(g.root, artist)
    assert(g.getStats() === ((2L, 1L, 2L)))
  }

  test("traverseTargets does not repeat  [GraphTests.hs:154-160]") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    g.addTarget(g.root, g.newNode(Artist(1, "Michael Jackson")))
    assert(g.targets(g.root).size === 1)
  }

  test("traverseSources does not repeat  [GraphTests.hs:162-167]") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val artist = g.newNode(Artist(1, "Michael Jackson"))
    g.addTarget(g.root, artist)
    assert(g.sources(artist).size === 1)
  }

  test("getValue round-trips the typed value") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val artist = g.newNode(Artist(7, "Prince"))
    g.addTarget(g.root, artist)
    assert(g.getValue(artist) === Artist(7, "Prince"))
    assert(g.getValue(g.root) === CatRoot)
  }

  test("getTargets resolves index lookups by key") {
    val (g, michael, _, _) = michaelFixture()
    assert(g.getTargets(g.root, IndexKey("Catalogue_Artist_Name", "Michael Jackson"))
      === Seq(michael))
    assert(g.getTargets(g.root, IndexKey("Catalogue_Artist_UID", "1")) === Seq(michael))
    assert(g.getTargets(g.root, IndexKey("Catalogue_Artist_Name", "Nobody")).isEmpty)
  }

  test("setValue re-indexes incoming edges  [Graph.hs:46-55]") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val artist = g.newNode(Artist(1, "Michael Jackson"))
    g.addTarget(g.root, artist)
    g.setValue(artist, Artist(1, "MJ"))
    assert(g.getValue(artist) === Artist(1, "MJ"))
    assert(g.getTargets(g.root, IndexKey("Catalogue_Artist_Name", "MJ")) === Seq(artist))
    assert(g.getTargets(g.root, IndexKey("Catalogue_Artist_Name", "Michael Jackson")).isEmpty)
    // stats unchanged: same number of index entries for the new name
    assert(g.getStats() === ((2L, 1L, 2L)))
  }

  test("setValue on an unknown id fails instead of fabricating a node") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    g.setValue(424242L, Artist(9, "Phantom"))
    val e = intercept[IllegalArgumentException] { g.getStats() } // forces apply
    assert(e.getMessage.contains("unknown node id"))
  }

  test("a failed batch ABORTS atomically: no partial runs, session survives") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val a = g.newNode(Artist(1, "A"))
    g.addTarget(g.root, a)
    g.getStats() // flush: (2 nodes, 1 edge) is the committed pre-batch state
    // one batch: a good newNode run FOLLOWED by a bad setValue — the
    // reference's invalid-ref failure aborts the whole write txn, so the
    // good run must not survive (and must not re-apply on the next read,
    // which used to duplicate its node rows)
    g.newNode(Song("doomed-with-the-batch"))
    g.setValue(424242L, Artist(9, "Phantom"))
    intercept[IllegalArgumentException](g.getStats())
    // the session is USABLE and the state is exactly the pre-batch snapshot
    assert(g.getStats() === ((2L, 1L, 2L)),
      "aborted batch must leave the pre-batch state, not partial runs")
    assert(g.getValue(a) === Artist(1, "A"))
    // and new work proceeds normally after the abort
    val b = g.newNode(Song("after-abort"))
    g.addTarget(g.root, b)
    assert(g.getStats()._1 === 3L)
  }

  test("addTarget with an unknown endpoint fails instead of a phantom edge") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    g.addTarget(g.root, 424242L)
    val e = intercept[IllegalArgumentException] { g.getStats() }
    assert(e.getMessage.contains("unknown node id"))
    // no phantom edge: stats (counted by reachability) and getTargets
    // (served from the index) agree again — the divergence the guard closes
    assert(g.getStats() === ((1L, 0L, 0L)))
    val unknownSrc = intercept[IllegalArgumentException] {
      g.addTarget(424242L, g.root); g.getStats()
    }
    assert(unknownSrc.getMessage.contains("unknown node id"))
  }

  test("setValue validation is in-plan: no extra job beyond the checkpoints") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val a = g.newNode(Artist(1, "A"))
    g.addTarget(g.root, a)
    g.getStats() // flush pending ops so the measurement sees ONE set-run
    val names = CostProbe.costOf(spark) {
      g.setValue(a, Artist(1, "B"))
      g.applied()
    }.actions
    // applying one SetValue run must cost exactly the 2 checkpoint
    // materializations of the tables it changes (nodes and index) — the
    // unknown-id guard rides in the plan; the eager anti-join used to
    // surface here as an extra `count` action on the session, replay, and
    // follower paths alike
    assert(!names.contains("count"),
      s"validation must not run an eager count action; saw $names")
    assert(names.size <= 2, s"expected ≤2 actions (checkpoints), saw $names")
    assert(g.getValue(a) === Artist(1, "B"))
  }

  test("interleaved new/add batch two-phase collapses: O(1) checkpoints, same state") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    g.getStats() // flush the root so the measurement sees only the batch
    // the write-shipping poll shape: 16 txns of newNode+addTarget each —
    // 32 alternating runs before the collapse, TWO after it: the nodes
    // append, then addTarget's one lookup and the edges and index appends
    // (no checkpoint: the rows stay in the tables' tails)
    var ids = Seq.empty[Long]
    val names = CostProbe.costOf(spark) {
      ids = (1 to 16).map { i =>
        val n = g.newNode(Song(s"tp$i")); g.addTarget(g.root, n); n
      }
      g.applied()
    }.actions
    assert(names.size <= 1,
      s"interleaved new/add must collapse to 2 runs (≤1 action), saw ${names.size}: $names")
    assert(g.getStats() === ((17L, 16L, 16L)))
    ids.foreach(n => assert(g.sources(n) === Seq(g.root)))
  }

  test("two-phase collapse keeps forward references invalid (defined-before-use)") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    g.getStats()
    // reference an id BEFORE the newNode that creates it: a sequential
    // apply refuses this batch, so the collapse must not quietly legalize
    // it — the dependency check falls back to consecutive runs and the
    // in-plan guard aborts the batch
    val guess = g.idWatermark
    g.addTarget(g.root, guess)
    val n = g.newNode(Song("too-late"))
    assert(n === guess, "fixture must hit the future id for the test to bite")
    val e = intercept[IllegalArgumentException](g.getStats())
    assert(e.getMessage.contains("unknown node id"))
    assert(g.getStats() === ((1L, 0L, 0L)), "aborted batch leaves pre-batch state")
    // the same inside a new/add stretch that follows another op
    g.setValue(g.root, CatRoot)
    val guess2 = g.idWatermark
    g.addTarget(g.root, guess2)
    assert(g.newNode(Song("too-late-2")) === guess2)
    val e2 = intercept[IllegalArgumentException](g.getStats())
    assert(e2.getMessage.contains("unknown node id"))
    assert(g.getStats() === ((1L, 0L, 0L)), "aborted batch leaves pre-batch state")
  }

  test("unlinked nodes are invisible to stats (reachability scoping)") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    g.newNode(Artist(9, "Orphan"))
    assert(g.getStats() === ((1L, 0L, 0L)))
  }
}
