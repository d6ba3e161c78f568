package graft.graph

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{GraphReplica, GraphStore}
import graft.tools.CostProbe

/** What a point read costs: one Spark job run straight on the tables'
  * planned base RDDs — no SQL execution, so no Catalyst pass — and no
  * codegen compile, not even for the first read of a state.
  */
class ReadCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 22 genres under the root, two songs each: genres 0-10 sit in the
    * materialized bases, genres 11-21 in the tails.
    */
  private lazy val fixture: (GraphSession[Cat], Seq[(Long, Set[Long])]) = {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    def genres(from: Int): Seq[(Long, Set[Long])] = (from until from + 11).map { i =>
      val genre = g.newNode(Genre(s"g$i"))
      g.addTarget(g.root, genre)
      genre -> (1 to 2).map { j =>
        val song = g.newNode(Song(s"g$i-s$j")); g.addTarget(genre, song); song
      }.toSet
    }
    val inBase = genres(0)
    // a SetValue and a RemoveTarget (of an absent edge) materialize all
    // three tables without changing what they hold
    g.setValue(inBase.head._1, Genre("g0"))
    g.removeTarget(g.root, g.root)
    g.applied()
    val inTail = genres(11)
    val st = g.applied()
    assert(st.nodeTable.tail.nonEmpty && st.edgeTable.tail.nonEmpty &&
      st.indexTable.tail.nonEmpty)
    (g, inBase ++ inTail)
  }

  private val songKey = IndexKey("Genre_Song")

  test("getValue and getTargets run one Spark job each") {
    val (g, genres) = fixture
    for ((genre, songs) <- Seq(genres.head, genres.last)) {
      val v = CostProbe.costOf(spark)(assert(g.getValue(genre).isInstanceOf[Genre]))
      assert(v.jobs === 1 && v.sqlExecutions === 0, s"getValue($genre): $v")
      val t = CostProbe.costOf(spark)(assert(g.getTargets(genre, songKey).toSet === songs))
      assert(t.jobs === 1 && t.sqlExecutions === 0, s"getTargets($genre): $t")
      val o = CostProbe.costOf(spark)(assert(g.targets(genre).toSet === songs))
      assert(o.jobs === 1 && o.sqlExecutions === 0, s"targets($genre): $o")
      val i = CostProbe.costOf(spark)(assert(g.sources(genre) === Seq(g.root)))
      assert(i.jobs === 1 && i.sqlExecutions === 0, s"sources($genre): $i")
    }
    intercept[NoSuchElementException](g.getValue(424242L))
  }

  test("20 reads of 20 distinct ids compile no class after the first of each plan shape") {
    val (g, genres) = fixture
    // the first read of a base id and of a tail id included: a read plans
    // nothing, so no plan shape has a first compile
    assert(genres.size === 22)
    val values = CostProbe.compilesOf(genres.zipWithIndex.foreach { case ((genre, _), i) =>
      assert(g.getValue(genre) === Genre(s"g$i"))
    })
    val targets = CostProbe.compilesOf(genres.foreach { case (genre, songs) =>
      assert(g.getTargets(genre, songKey).toSet === songs)
    })
    assert(values === 0L, s"getValue compiled $values classes over 22 new ids")
    assert(targets === 0L, s"getTargets compiled $targets classes over 22 new ids")
  }

  test("GraphReplica.getValues: 20 distinct small id lists compile no class after the first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-getvalues-cost-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val artists = (1 to 24).map { i =>
      val a = g.newNode(Artist(i, s"A$i")); g.addTarget(g.root, a); a -> Artist(i, s"A$i")
    }
    store.close() // a checkpoint: the replica's tables hold no tail
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    // 1 to 3 ids per list, every list distinct; an unknown id is absent
    val lists = (0 to 20).map(i => artists.slice(i, i + 1 + i % 3))
    def read(l: Seq[(Long, Cat)]): Unit =
      assert(replica.getValues(l.map(_._1) :+ 424242L) === l.toMap)
    read(lists.head)
    val compiles = CostProbe.compilesOf(lists.tail.foreach(read))
    assert(compiles === 0L, s"getValues compiled $compiles classes over 20 new id lists")
  }
}
