package graft.graph

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.store.GraphStore

/** Differential property: a driver-issued NewNode/AddTarget batch applied
  * through the session (driver-side lookup and index derivation) gives the
  * same `edges` and `index` multisets as the distributed bulk path
  * (`withTargetsDF`, whose index rows come from `deriveIndex`), the oracle.
  * The same holds across the tables' tails: sequences that cross the tail
  * bound, mix SetValue/RemoveTarget/RemoveNode into appended tails and
  * abort a batch with a non-empty tail equal both that oracle and the
  * store reopened from its WAL.
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

  // ------------------------------------------------ tails, mutations, aborts

  private case class Child(parent: Int, v: Cat) extends Op // new node under ids(parent)
  private case class SetV(n: Int, v: Cat) extends Op
  private case class Unlink(k: Int) extends Op // remove an earlier pair
  private case class Drop(n: Int) extends Op // remove a node: its incoming edges go

  private val genMutation: Gen[Op] = Gen.oneOf(
    Gen.zip(Gen.chooseNum(0, 2000), genValue).map((SetV.apply _).tupled),
    Gen.chooseNum(0, 2000).map(Unlink),
    Gen.chooseNum(0, 2000).map(Drop))

  /** A few appends or links with at least one mutation among them. */
  private val genMixed: Gen[List[Op]] = for {
    ops <- genBatch
    muts <- Gen.listOfN(2, genMutation)
    at <- Gen.chooseNum(0, ops.size)
  } yield ops.take(at) ++ muts ++ ops.drop(at)

  /** An append-only batch of `n` new nodes, each linked from a known node. */
  private def genAppend(n: Int): Gen[List[Op]] =
    Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 2000), genValue).map((Child.apply _).tupled))

  private def nodeBag(df: DataFrame): Map[Row, Int] =
    df.select("id", "kind", "value").collect()
      .groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** The oracle: a batch's runs of ops, then all three tables materialized,
    * so no tail outlives a batch — AddTarget runs through `withTargetsDF`
    * (index rows from `deriveIndex`), the other ops through their state
    * transitions. An append-only batch applies as [all news][all adds], the
    * order the session's two-phase collapse shows equivalent.
    */
  private def oracleApply(o: GraphState[Cat], batch: Seq[GraphOp[Cat]]): GraphState[Cat] = {
    import GraphOp._
    val appendOnly = batch.forall {
      case _: NewNode[_] | _: AddTarget[_] => true
      case _ => false
    }
    val ops = if (appendOnly) batch.sortBy { case _: NewNode[_] => 0; case _ => 1 } else batch
    val runs = ops.foldLeft(Vector.empty[Vector[GraphOp[Cat]]]) {
      case (rs, op) if rs.nonEmpty && rs.last.head.getClass == op.getClass =>
        rs.init :+ (rs.last :+ op)
      case (rs, op) => rs :+ Vector(op)
    }
    runs.foldLeft(o) { (st, run) =>
      (run.head match {
        case _: NewNode[_] => st.withNewNodes(run.collect { case NewNode(id, v) => (id, v) })
        case _: AddTarget[_] =>
          st.withTargetsDF(pairsDF(run.collect { case AddTarget(s, d) => (s, d) }))
        case _: SetValue[_] =>
          st.withValues(GraphOp.keepLastById(run.collect { case SetValue(id, v) => (id, v) }))
        case _: RemoveTarget[_] =>
          st.withoutTargets(run.collect { case RemoveTarget(s, d) => (s, d) })
        case _: RemoveNode[_] => st.withoutNodes(run.collect { case RemoveNode(id) => id })
      })
    }.checkpointed()
  }

  private def assertSame(got: GraphState[Cat], want: GraphState[Cat], clue: String): Unit = {
    assert(nodeBag(got.nodes) === nodeBag(want.nodes), s"nodes, $clue")
    assert(edgeBag(got.edges) === edgeBag(want.edges), s"edges, $clue")
    assert(indexBag(got.index) === indexBag(want.index), s"index, $clue")
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val rel = from.relativize(p).toString
      val t = to.resolve(rel)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else if (rel != "lock") Files.copy(p, t)
    }

  test("tails past the bound, mutations and an aborted batch == oracle and == WAL reopen") {
    (1 to 2).foreach { i =>
      val seed = 9100L + i
      // a1 leaves ~600 rows in every tail, m2 mutates some tables with their
      // tails non-empty, a2 + a3 take every tail past the bound, a4 leaves a
      // small tail for the aborted batch (an edge to an unknown id)
      val gen = for {
        m1 <- genMixed; a1 <- genAppend(600); m2 <- genMixed
        a2 <- genAppend(700); a3 <- genAppend(400); a4 <- genAppend(5); m3 <- genMixed
      } yield List(m1, a1, m2, a2, a3, a4, List(New(Song("lost")), Link(0, -1)), m3)
      val batches = gen(Gen.Parameters.default, Seed(seed))
        .getOrElse(sys.error(s"gen failed for seed $seed"))
      val dir = Files.createTempDirectory("graft-tail-prop-")
      val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
      val g = store.session
      var oracle = GraphState.empty(spark, CatalogueModel)
        .withNewNodes(Seq(g.root -> (CatRoot: Cat))).checkpointed()
      var ids = Vector(g.root)
      var pairs = Vector.empty[(Long, Long)]
      var crossed = (false, false) // (nodes, edges)
      batches.zipWithIndex.foreach { case (ops, b) =>
        val clue = s"seed $seed, batch $b"
        val before = g.applied()
        val (ids0, pairs0) = (ids, pairs)
        var logged = Vector.empty[GraphOp[Cat]]
        var unknown = false
        def pick(n: Int) = ids(n % ids.size)
        def add(p: (Long, Long)): Unit = {
          g.addTarget(p._1, p._2); logged :+= GraphOp.AddTarget[Cat](p._1, p._2); pairs :+= p
        }
        def create(v: Cat): Long = {
          val id = g.newNode(v); logged :+= GraphOp.NewNode(id, v); ids :+= id; id
        }
        ops.foreach {
          case New(v) => create(v)
          case Child(parent, v) => val p = pick(parent); add((p, create(v)))
          case Link(s, -1) => g.addTarget(pick(s), 1L << 40); unknown = true
          case Link(s, d) => add((pick(s), pick(d)))
          case SelfLoop(n) => val id = pick(n); add((id, id))
          case Again(k) if pairs.nonEmpty => add(pairs(k % pairs.size))
          case Again(_) => ()
          case SetV(n, v) =>
            val id = pick(n); g.setValue(id, v); logged :+= GraphOp.SetValue(id, v)
          case Unlink(k) if pairs.nonEmpty =>
            val p = pairs(k % pairs.size)
            g.removeTarget(p._1, p._2); logged :+= GraphOp.RemoveTarget[Cat](p._1, p._2)
          case Unlink(_) => ()
          case Drop(n) =>
            val id = pick(n)
            if (id != g.root) { g.remove(id); logged :+= GraphOp.RemoveNode[Cat](id) }
        }
        if (unknown) {
          assert(before.nodeTable.tail.nonEmpty && before.edgeTable.tail.nonEmpty,
            s"tails empty at the abort, $clue")
          val e = intercept[IllegalArgumentException](store.commit())
          assert(e.getMessage.contains("unknown node id"), clue)
          ids = ids0; pairs = pairs0
        } else {
          store.commit()
          oracle = oracleApply(oracle, logged)
        }
        val st = g.applied()
        if (ops.forall(_.isInstanceOf[Child])) crossed = (
          crossed._1 || st.nodeTable.tail.size < before.nodeTable.tail.size + ops.size,
          crossed._2 || st.edgeTable.tail.size < before.edgeTable.tail.size + ops.size)
        assertSame(st, oracle, clue)
      }
      assert(crossed === ((true, true)), s"(nodes, edges) tails crossed the bound, seed $seed")
      // the store reopened from its WAL, without close()
      val copy = Files.createTempDirectory("graft-tail-prop-copy-")
      copyTree(dir, copy)
      val reopened = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, copy.toString)
      assertSame(reopened.session.applied(), g.applied(), s"WAL reopen, seed $seed")
      reopened.close()
      store.close()
    }
  }
}
