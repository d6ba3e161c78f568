package graft.graph

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.store.{GraphReplica, GraphStore}

/** Keyed bases: every row of a materialized base sits in the partition
  * that the partitioner kept beside it computes for the row's key (nodes
  * by `id`, edges and index by `src`), whichever path materialized it, and
  * the point reads, which run only on the partitions owning their ids,
  * answer what a DataFrame filter of `nodes`, `edges` and `index` answers.
  */
class KeyedBaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val model = CatalogueModel
  private val extremes = Seq(Long.MinValue, -1L, 0L, Long.MaxValue)

  /** A catalogue over `songs` songs with random ids (seeded) and the
    * extreme ids: the root at 0, genres (one at `Long.MinValue`), songs
    * (one at -1) and artists (one at `Long.MaxValue`); edges root → genre,
    * root → artist, genre → song, song → artist and a self-loop on every
    * genre.
    */
  private def catalogue(seed: Long, songs: Int): (Seq[(Long, Cat)], Seq[(Long, Long)]) = {
    val rnd = new Random(seed)
    val ids = Iterator.continually(rnd.nextLong()).filterNot(extremes.contains).distinct
      .take(8 + songs - 1).toVector
    val genres = Long.MinValue +: ids.take(4)
    val artists = Long.MaxValue +: ids.slice(4, 8)
    val songIds = -1L +: ids.drop(8)
    val nodes = Seq(0L -> (CatRoot: Cat)) ++
      genres.zipWithIndex.map { case (id, i) => id -> Genre(s"g$i") } ++
      artists.zipWithIndex.map { case (id, i) => id -> Artist(i, s"a$i") } ++
      songIds.zipWithIndex.map { case (id, i) => id -> Song(s"s$i") }
    val edges = genres.map(0L -> _) ++ artists.map(0L -> _) ++ genres.map(g => g -> g) ++
      songIds.zipWithIndex.flatMap { case (s, i) =>
        Seq(genres(i % genres.size) -> s, s -> artists(i % artists.size))
      }
    (nodes, edges)
  }

  private def tables(st: GraphState[Cat]) =
    Seq("nodes" -> st.nodeTable, "edges" -> st.edgeTable, "index" -> st.indexTable)

  /** Every base row sits in the partition its key maps to; `n` is the
    * expected partition count, when the path fixes it.
    */
  private def assertPlaced(st: GraphState[Cat], n: Option[Int], where: String): Unit =
    for ((name, t) <- tables(st)) {
      val p = t.partitioner.getOrElse(fail(s"$where: the $name base has no partitioner"))
      assert(t.baseRows.getNumPartitions === p.numPartitions, s"$where: $name")
      n.foreach(n => assert(p.numPartitions === n, s"$where: $name partitions"))
      val k = t.key
      val at = t.baseRows
        .mapPartitionsWithIndex((i, rows) => rows.map(r => (i, r.getLong(k)))).collect()
      assert(at.nonEmpty, s"$where: the $name base is empty")
      val misplaced = at.filter { case (i, id) => p.getPartition(id) != i }
      assert(misplaced.isEmpty,
        s"$where: $name rows outside their key's partition: ${misplaced.take(5).toSeq}")
    }

  /** The batched and single-id reads of `ids` equal DataFrame filters of
    * the state's tables.
    */
  private def assertAnswers(st: GraphState[Cat], ids: Seq[Long], where: String): Unit = {
    def per(df: DataFrame, from: String, to: String): Map[Long, Set[Long]] =
      df.where(col(from).isin(ids: _*)).select(from, to).collect().toSeq
        .groupMap(_.getLong(0))(_.getLong(1)).map { case (k, v) => k -> v.toSet }
    val values = st.nodes.where(col("id").isin(ids: _*)).select("id", "kind", "value")
      .collect().map(r => r.getLong(0) -> model.fromValueRow(r.getString(1), r.getStruct(2))).toMap
    val targets = per(st.edges, "src", "dst")
    val sources = per(st.edges, "dst", "src")
    val keyed = st.index.where(col("src").isin(ids: _*)).select("src", "kkind", "key", "dst")
      .collect().toSeq.groupMap(r => r.getLong(0) -> IndexKey(r.getString(1), r.getString(2)))(
        _.getLong(3)).map { case (k, v) => k -> v.toSet }
    assert(values.nonEmpty && targets.nonEmpty && sources.nonEmpty && keyed.nonEmpty,
      s"$where: the probe ids hit nothing")
    def sets(m: Map[Long, Seq[Long]]) = m.map { case (k, v) => k -> v.toSet }
    assert(st.getValues(ids) === values, s"$where: getValues")
    assert(sets(st.targets(ids)) === targets, s"$where: targets")
    assert(sets(st.sources(ids)) === sources, s"$where: sources")
    val absent = ids.head -> IndexKey("Genre_Song", "absent")
    assert(st.getTargets(keyed.keys.toSeq :+ absent).map { case (k, v) => k -> v.toSet } ===
      keyed, s"$where: getTargets")
    for (id <- ids) {
      assert(st.getValues(Seq(id)) === values.view.filterKeys(_ == id).toMap, s"$where: getValue($id)")
      assert(st.targets(id).toSet === targets.getOrElse(id, Set.empty), s"$where: targets($id)")
      assert(st.sources(id).toSet === sources.getOrElse(id, Set.empty), s"$where: sources($id)")
    }
    for (((id, k), dsts) <- keyed)
      assert(st.getTargets(id, k).toSet === dsts, s"$where: getTargets($id, $k)")
  }

  /** The extremes, a few ids of `nodes`, and ids no node has. */
  private def probeIds(nodes: Seq[(Long, Cat)]): Seq[Long] =
    (extremes ++ nodes.map(_._1).filterNot(extremes.contains).take(6) ++ Seq(7L, -7L)).distinct

  test("checkpointed(): 1, 4 and 64 loaded partitions, extreme ids, duplicate edges, self-loops") {
    val (nodes, edges) = catalogue(11, songs = 60)
    val nodesDF = spark.createDataFrame(
      java.util.Arrays.asList(nodes.map { case (id, v) =>
        Row(id, model.kindOf(v), model.toValueRow(v)) }: _*), GraphState.nodesSchema(model))
    // every edge twice: a bulk base is a bag, and both copies must land together
    val edgesDF = spark.createDataFrame(
      java.util.Arrays.asList((edges ++ edges).map { case (s, d) => Row(s, d) }: _*),
      GraphState.edgesSchema)
    val indexDF = GraphState.deriveIndex(model, nodesDF, edgesDF)
    for (n <- Seq(1, 4, 64)) {
      val st = GraphState(spark, model,
        nodesDF.repartition(n), edgesDF.repartition(n), indexDF.repartition(n)).checkpointed()
      assertPlaced(st, Some(n), s"checkpointed() of $n partitions")
      assertAnswers(st, probeIds(nodes), s"checkpointed() of $n partitions")
      assert(st.edges.count() === 2L * edges.size)
    }
  }

  test("checkpointedSince: after a SetValue and after passing TailBound, at 1, 4 and 64 partitions") {
    for (n <- Seq(1, 4, 64)) TestSpark.withShufflePartitions(n) {
      val empty = GraphState.empty(spark, model)
      // under the bound: the tails hold the graph until a SetValue and a
      // RemoveTarget (of an absent edge) materialize every table
      val (nodes, edges) = catalogue(20 + n, songs = 100)
      val appended = empty.withNewNodes(nodes).withTargets(edges)
      assert(appended.checkpointedSince(empty).nodeTable.partitioner.isEmpty)
      val (genre, g) = nodes.collectFirst { case (id, v: Genre) => id -> v }.get
      val set = appended.withValues(Seq(genre -> g)).withoutTargets(Seq(-7L -> 7L))
        .checkpointedSince(empty)
      assertPlaced(set, Some(n), s"after a SetValue, $n partitions")
      assertAnswers(set, probeIds(nodes), s"after a SetValue, $n partitions")
      // past the bound: appends alone materialize every table
      val (many, manyEdges) = catalogue(40 + n, songs = GraphState.TailBound + 50)
      val past = empty.withNewNodes(many).withTargets(manyEdges).checkpointedSince(empty)
      assert(tables(past).forall(_._2.tail.isEmpty), "no table passed the bound")
      assertPlaced(past, Some(n), s"past TailBound, $n partitions")
      assertAnswers(past, probeIds(many), s"past TailBound, $n partitions")
    }
  }

  test("checkpointed() through a store reopen and a replica bootstrap") {
    val dir = Files.createTempDirectory("graft-keyed-base-").toString
    val store = GraphStore.open(spark, model, CatRoot: Cat, dir)
    val g = store.session
    val genres = (1 to 3).map { i => val x = g.newNode(Genre(s"g$i")); g.addTarget(g.root, x); x }
    val songs = (1 to 30).map { i =>
      val s = g.newNode(Song(s"s$i")); g.addTarget(genres(i % 3), s); g.addTarget(s, s); s
    }
    g.setValue(genres.head, Genre("g1"))
    store.commit()
    store.close()
    val ids = Seq(g.root) ++ genres ++ songs.take(4) ++ Seq(Long.MinValue, -1L, Long.MaxValue)
    // no per-file open cost: a read packs the checkpoint's small files
    // into several partitions, so the loaded count is above 1
    TestSpark.withConf("spark.sql.files.openCostInBytes", "0") {
      val reopened = GraphStore.open(spark, model, CatRoot: Cat, dir)
      try {
        val st = reopened.session.applied()
        assert(st.nodeTable.baseRows.getNumPartitions > 1, "one loaded partition places nothing")
        assertPlaced(st, None, "a reopened store")
        assertAnswers(st, ids, "a reopened store")
      } finally reopened.close()
      val replica = GraphReplica.bootstrap(spark, model, dir)
      assert(replica.currentState.edgeTable.baseRows.getNumPartitions > 1)
      assertPlaced(replica.currentState, None, "a bootstrapped replica")
      assertAnswers(replica.currentState, ids, "a bootstrapped replica")
    }
  }
}
