package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.graph._

/** What a driver-issued commit costs: Spark jobs in proportion to its delta,
  * not to the state — appends go to the tables' driver-held tails and copy
  * no table — and no partition growth per commit.
  */
class CommitCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions

  // the name predates the tail; the assertions below pin ≤ 3 jobs and no
  // localCheckpoint
  test("warm synchronous newNode + addTarget + commit: ≤ 6 jobs, no partition growth") {
    val dir = Files.createTempDirectory("graft-commit-cost-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val genre = g.newNode(Genre("rock"))
    g.addTarget(g.root, genre)
    (1 to 40).foreach { i => g.addTarget(genre, g.newNode(Song(s"preload$i"))) }
    store.commit()
    var songs = Vector.empty[Long]
    def insert(i: Int): Unit = {
      val song = g.newNode(Song(s"s$i"))
      g.addTarget(genre, song)
      store.commit()
      songs :+= song
    }
    (1 to 4).foreach(insert)
    // the lookup (a broadcast job and a collect job) and the WAL write
    val cost = CostProbe.costOf(spark)(insert(5))
    assert(cost.jobs <= 3, s"a warm insert + commit ran ${cost.jobs} jobs")
    assert(!cost.actions.contains("localCheckpoint"),
      s"an append-only commit must copy no table: ${cost.actions}")
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
    // the control for the action check: a SetValue commit materializes the nodes and index tables
    val set = CostProbe.costOf(spark) { g.setValue(genre, Genre("rock")); store.commit() }
    assert(set.actions.count(_ == "localCheckpoint") === 2, s"a SetValue commit: ${set.actions}")
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
