package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.graph._
import graft.tools.CostProbe

/** What a driver-issued commit costs: Spark jobs in proportion to its delta,
  * not to the state — appends go to the tables' driver-held tails and copy
  * no table — and no partition growth per commit.
  */
class CommitCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions

  private def materializations(c: CostProbe.Cost): Int =
    c.finished.count(_.description == GraphState.MaterializeJob)

  // the name predates the tail; the assertions below pin no job and no
  // SQL execution (the lookup scans the blocks of the owning partitions of
  // the tables' keyed bases in place), no materialization and no write
  // action
  test("warm synchronous newNode + addTarget + commit: ≤ 6 jobs, no partition growth") {
    val dir = Files.createTempDirectory("graft-commit-cost-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val genre = g.newNode(Genre("rock"))
    g.addTarget(g.root, genre)
    (1 to 40).foreach { i => g.addTarget(genre, g.newNode(Song(s"preload$i"))) }
    store.commit()
    // a SetValue and a RemoveTarget (of an absent edge) materialize all
    // three tables, so the lookup below scans real bases
    g.setValue(genre, Genre("rock"))
    g.removeTarget(g.root, g.root)
    store.commit()
    val bases = g.applied()
    assert(!bases.nodeTable.base.isEmpty && !bases.edgeTable.base.isEmpty,
      "the preload materialized no base")
    var songs = Vector.empty[Long]
    def insert(i: Int): Unit = {
      val song = g.newNode(Song(s"s$i"))
      g.addTarget(genre, song)
      store.commit()
      songs :+= song
    }
    (1 to 4).foreach(insert)
    // the lookup scans the nodes and edges bases' blocks on the driver,
    // and the WAL batch is written without a Spark job
    val cost = CostProbe.costOf(spark)(insert(5))
    assert(cost.jobs === 0 && cost.tasks === 0, s"a warm insert + commit: $cost")
    assert(cost.sqlExecutions === 0, s"a warm insert + commit ran a planned query: $cost")
    assert(!cost.actions.contains("localCheckpoint") && materializations(cost) === 0,
      s"an append-only commit must copy no table: $cost")
    assert(cost.actions.isEmpty, s"a commit must run no Spark action: ${cost.actions}")
    def tableParts() = {
      val st = g.applied()
      (parts(st.nodes), parts(st.edges), parts(st.index))
    }
    val first = tableParts()
    (6 to 35).foreach(insert)
    val last = tableParts()
    assert(last._1 <= first._1 && last._2 <= first._2 && last._3 <= first._3,
      s"(nodes, edges, index) partitions after the first commit $first, after 30 more $last")
    info(s"insert + commit: ${cost.jobs} jobs, actions ${cost.actions}; " +
      s"(nodes, edges, index) partitions $first → $last")
    assert(g.getTargets(genre, IndexKey("Genre_Song")).toSet.size === 40 + songs.size)
    assert(g.getStats() === ((2L + 40 + songs.size, 1L + 40 + songs.size, 1L + 40 + songs.size)))
    // the control for the materialization check: a SetValue commit
    // materializes the nodes and index tables
    val set = CostProbe.costOf(spark) { g.setValue(genre, Genre("rock")); store.commit() }
    assert(materializations(set) === 2, s"a SetValue commit: $set, ${set.finished}")
    store.close()
  }

  test("reopening 30 driver-written WAL batches runs no Spark job") {
    val dir = Files.createTempDirectory("graft-reopen-cost-")
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    val g = store.session
    val genre = g.newNode(Genre("rock"))
    g.addTarget(g.root, genre)
    store.commit()
    val n = 30
    (1 to n - 1).foreach { i => g.addTarget(genre, g.newNode(Song(s"s$i"))); store.commit() }
    // the store reopened from its WAL, without close(): N batches to replay
    val copy = Files.createTempDirectory("graft-reopen-cost-copy-")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.foreach { p =>
      val rel = dir.relativize(p).toString
      if (Files.isDirectory(p)) Files.createDirectories(copy.resolve(rel))
      else if (rel != "lock") Files.copy(p, copy.resolve(rel))
    } finally walk.close()
    val listed = Files.walk(copy)
    val batches = try listed.iterator().asScala
      .count(p => p.getFileName.toString.startsWith("batch-")) finally listed.close()
    assert(batches === n, s"WAL batches written: $batches")
    var reopened: GraphStore[Cat] = null
    val cost = CostProbe.costOf(spark) {
      reopened = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, copy.toString)
    }
    // each batch is read on the driver (OpBatchFile.read), and the lookup
    // that applies the replayed ops at open probes tails only (no table
    // has materialized): no job. A Spark read ran one job per batch, and
    // a schemaless one two
    assert(cost.jobs === 0 && cost.sqlExecutions === 0, s"reopening $n WAL batches: $cost")
    assert(reopened.session.getTargets(genre, IndexKey("Genre_Song")).size === n - 1)
    reopened.close()
    store.close()
  }

  test("a RemoteWrite submit runs no Spark job") {
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat,
      Files.createTempDirectory("graft-submit-cost-store-").toString)
    val inbox = Files.createTempDirectory("graft-submit-cost-inbox-").toString
    val client = new RemoteWrite.Client(spark, CatalogueModel, inbox, "cost")
    def ship(name: String): (String, Long) = {
      var ref = 0L
      val id = client.submit { txn =>
        ref = txn.newNode(Genre(name)); txn.addTarget(0L, ref)
      }
      (id, ref)
    }
    ship("warm")
    var shipped: (String, Long) = null
    val cost = CostProbe.costOf(spark) { shipped = ship("jazz") }
    assert(cost.jobs === 0, s"a submit ran $cost")
    // the server reads the driver-written txn like any other
    RemoteWrite.applyPending(store, inbox)
    val ack = client.await(shipped._1)
    assert(ack.applied, ack)
    val jazz = ack.assigned(shipped._2)
    assert(store.session.getValue(jazz) === Genre("jazz"))
    assert(store.session.getTargets(store.session.root,
      IndexKey("Catalogue_Genre_Name", "jazz")) === Seq(jazz))
    store.close()
  }

  test("a tail past the bound compacts: one local relation of ≤ bound rows, contents unchanged") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val genre = g.newNode(Genre("jazz"))
    g.addTarget(g.root, genre)
    var songs = Vector.empty[Long]
    val batch = 300
    def localLeaves(df: DataFrame): Seq[LocalRelation] =
      df.queryExecution.analyzed.collectLeaves().collect { case l: LocalRelation => l }
    // 4 batches of 300 songs: more appended rows than the bound, per table
    (1 to 4).foreach { b =>
      (1 to batch).foreach { i =>
        val s = g.newNode(Song(s"b$b-$i")); g.addTarget(genre, s); songs :+= s
      }
      val st = g.applied()
      Seq("nodes" -> st.nodes, "edges" -> st.edges, "index" -> st.index).foreach {
        case (name, df) =>
          val leaves = localLeaves(df)
          assert(leaves.size <= 1, s"$name after batch $b: ${leaves.size} local relations")
          assert(leaves.forall(_.data.size <= GraphState.TailBound),
            s"$name after batch $b: tail of ${leaves.map(_.data.size)} rows")
      }
    }
    val st = g.applied()
    assert(st.nodeTable.tail.size < 2 + songs.size && st.edgeTable.tail.size < 1 + songs.size,
      "no table compacted")
    def bag(df: DataFrame): Map[Row, Int] =
      df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
    val wantNodes = (Seq(g.root -> (CatRoot: Cat), genre -> Genre("jazz")) ++
      songs.zipWithIndex.map { case (s, i) => s -> Song(s"b${i / batch + 1}-${i % batch + 1}") })
      .map { case (id, v) => Row(id, CatalogueModel.kindOf(v), CatalogueModel.toValueRow(v)) }
    assert(bag(st.nodes.select("id", "kind", "value")) ===
      wantNodes.groupBy(identity).map { case (r, rs) => r -> rs.length })
    val wantEdges = ((g.root, genre) +: songs.map(genre -> _))
      .map { case (s, d) => Row(s, d) }
    assert(bag(st.edges.select("src", "dst")) ===
      wantEdges.groupBy(identity).map { case (r, rs) => r -> rs.length })
    assert(bag(st.index.select("src", "kkind", "key", "dst")) ===
      bag(GraphState.deriveIndex(CatalogueModel, st.nodes, st.edges)
        .select("src", "kkind", "key", "dst")))
    assert(g.getTargets(genre, IndexKey("Genre_Song")).toSet === songs.toSet)
  }
}
