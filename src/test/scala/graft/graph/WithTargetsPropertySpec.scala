package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential property: a driver-issued NewNode/AddTarget batch applied
  * through the session (driver-side lookup and index derivation) gives the
  * same `edges` and `index` multisets as the distributed bulk path
  * (`withTargetsDF`, whose index rows come from `deriveIndex`), the oracle.
  */
class WithTargetsPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private sealed trait Op
  private case class New(v: Cat) extends Op
  private case class Link(src: Int, dst: Int) extends Op // indices into known ids
  private case class SelfLoop(n: Int) extends Op
  private case class Again(k: Int) extends Op // an earlier pair, this batch or before

  private val genValue: Gen[Cat] = Gen.oneOf(
    Gen.chooseNum(1, 5).flatMap(u => Gen.alphaLowerStr.map(n => Artist(u, n.take(6)))),
    Gen.alphaLowerStr.map(n => Genre(n.take(6))),
    Gen.alphaLowerStr.map(n => Song(n.take(6))))

  private val genBatch: Gen[List[Op]] = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n,
    Gen.frequency(
      3 -> genValue.map(New),
      5 -> Gen.zip(Gen.chooseNum(0, 40), Gen.chooseNum(0, 40)).map((Link.apply _).tupled),
      1 -> Gen.chooseNum(0, 40).map(SelfLoop),
      2 -> Gen.chooseNum(0, 40).map(Again))))

  private val genBatches: Gen[List[List[Op]]] = Gen.listOfN(3, genBatch)

  private def edgeBag(df: DataFrame): Map[Row, Int] =
    df.select("src", "dst").collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def indexBag(df: DataFrame): Map[Row, Int] =
    df.select("src", "kkind", "key", "dst").collect()
      .groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def pairsDF(pairs: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("src", "dst")
  }

  test("session batches == withTargetsDF/deriveIndex (self-loops, duplicates, present pairs)") {
    // raw scalacheck Gen with fixed seeds — deterministic across runs
    (1 to 8).foreach { i =>
      val batches = genBatches(Gen.Parameters.default, Seed(7000L + i))
        .getOrElse(sys.error(s"gen failed for seed ${7000L + i}"))
      val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
      var ids = Vector(g.root)
      var pairs = Vector.empty[(Long, Long)]
      batches.foreach { ops =>
        val before = g.applied()
        var news = Vector.empty[(Long, Cat)]
        var adds = Vector.empty[(Long, Long)]
        def add(p: (Long, Long)): Unit = {
          g.addTarget(p._1, p._2); adds :+= p; pairs :+= p
        }
        ops.foreach {
          case New(v) =>
            val id = g.newNode(v); news :+= (id -> v); ids :+= id
          case Link(s, d) => add((ids(s % ids.size), ids(d % ids.size)))
          case SelfLoop(n) => val id = ids(n % ids.size); add((id, id))
          case Again(k) if pairs.nonEmpty => add(pairs(k % pairs.size))
          case Again(_) => ()
        }
        val got = g.applied()
        val want = before.withNewNodes(news).withTargetsDF(pairsDF(adds))
        assert(edgeBag(got.edges) === edgeBag(want.edges), s"edges, seed ${7000L + i}: $ops")
        assert(indexBag(got.index) === indexBag(want.index), s"index, seed ${7000L + i}: $ops")
      }
    }
  }

  test("validate = false: edges to missing endpoints land index-less, like withTargetsDF") {
    val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
    val a = g.newNode(Artist(1, "A"))
    val s = g.newNode(Song("S"))
    g.addTarget(g.root, a)
    val st = g.applied()
    val pairs = Seq((g.root, a), (s, a), (s, 9001L), (9002L, a), (9003L, 9003L),
      (g.root, s), (s, a), (9002L, a))
    val got = st.withTargets(pairs, validate = false)
    val want = st.withTargetsDF(pairsDF(pairs))
    assert(edgeBag(got.edges) === edgeBag(want.edges))
    assert(indexBag(got.index) === indexBag(want.index))
    assert(edgeBag(got.edges).contains(Row(9002L, a)))
    val e = intercept[IllegalArgumentException](st.withTargets(pairs))
    assert(e.getMessage.contains("unknown node id"))
  }
}
