package graft.graph

import org.scalatest.funsuite.AnyFunSuite

/** What a point read costs: one Spark job, and no codegen compile for a new
  * id — the id enters the generated code by reference (`graft.functions.
  * Param`), so an optimizer that folded it back into a literal would fail
  * the compile count here.
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
      assert(v.jobs === 1, s"getValue($genre): $v")
      val t = CostProbe.costOf(spark)(assert(g.getTargets(genre, songKey).toSet === songs))
      assert(t.jobs === 1, s"getTargets($genre): $t")
    }
    intercept[NoSuchElementException](g.getValue(424242L))
  }

  test("20 reads of 20 distinct ids compile no class after the first of each plan shape") {
    val (g, genres) = fixture
    // an id in the base and an id in the tail optimize to two plan shapes
    // (the tail's filtered local relation is empty or not): the first read
    // of each may compile
    val (warm, fresh) = genres.zipWithIndex.partition { case (_, i) => i == 0 || i == 11 }
    warm.foreach { case ((genre, _), _) => g.getValue(genre); g.getTargets(genre, songKey) }
    assert(fresh.size === 20)
    val values = CostProbe.compilesOf(fresh.foreach { case ((genre, _), i) =>
      assert(g.getValue(genre) === Genre(s"g$i"))
    })
    val targets = CostProbe.compilesOf(fresh.foreach { case ((genre, songs), _) =>
      assert(g.getTargets(genre, songKey).toSet === songs)
    })
    assert(values === 0L, s"getValue compiled $values classes over 20 new ids")
    assert(targets === 0L, s"getTargets compiled $targets classes over 20 new ids")
  }
}
