package graft.graph

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{SparkEnv, SparkException, TestBlocks}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import graft.store.{GraphReplica, GraphStore}
import graft.tools.CostProbe

/** A model whose value schema (a Short and a Double) no other spec scans:
  * a read that projected its nodes rows would compile a class that no
  * earlier test in the JVM has cached.
  */
sealed trait Gauge
case object GaugeRoot extends Gauge
final case class Reading(sensor: Short, level: Double) extends Gauge

object GaugeModel extends GraphModel[Gauge] {
  val valueSchema: StructType = StructType(Seq(
    StructField("sensor", ShortType, nullable = true),
    StructField("level", DoubleType, nullable = true)))

  def kindOf(v: Gauge): String = v match {
    case GaugeRoot => "Root"
    case _: Reading => "Reading"
  }

  def toValueRow(v: Gauge): Row = v match {
    case GaugeRoot => Row(null, null)
    case Reading(s, l) => Row(s, l)
  }

  def fromValueRow(kind: String, row: Row): Gauge = kind match {
    case "Root" => GaugeRoot
    case "Reading" => Reading(row.getShort(0), row.getDouble(1))
  }

  def indexes(target: Gauge, source: Gauge): Seq[IndexKey] = (target, source) match {
    case (Reading(s, _), GaugeRoot) => Seq(IndexKey("Root_Reading", s.toString))
    case _ => Seq.empty
  }
}

/** What a point read costs: a scan of the partitions of the tables'
  * keyed bases that own its ids, in place from the blocks the driver holds
  * — no Spark job and no SQL execution, so no Catalyst pass — and no
  * codegen compile, not even for the first read of a state. A read of a
  * planned base runs one Spark job, with no Scala lambda for Spark's
  * `ClosureCleaner` to parse the declaring class file of.
  */
class ReadCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 11 genres under the root from genre `from` on, two songs each. */
  private def genres(g: GraphSession[Cat], from: Int): Seq[(Long, Set[Long])] =
    (from until from + 11).map { i =>
      val genre = g.newNode(Genre(s"g$i"))
      g.addTarget(g.root, genre)
      genre -> (1 to 2).map { j =>
        val song = g.newNode(Song(s"g$i-s$j")); g.addTarget(genre, song); song
      }.toSet
    }

  /** A session whose 11 genres sit in bases of `partitions` partitions:
    * a SetValue and a RemoveTarget (of an absent edge) materialize all
    * three tables without changing what they hold.
    */
  private def keyed(partitions: Int): (GraphSession[Cat], Seq[(Long, Set[Long])]) =
    TestSpark.withShufflePartitions(partitions) {
      val g = GraphSession.inMemory(spark, CatalogueModel, CatRoot: Cat)
      val inBase = genres(g, 0)
      g.setValue(inBase.head._1, Genre("g0"))
      g.removeTarget(g.root, g.root)
      val st = g.applied()
      assert(Seq(st.nodeTable, st.edgeTable, st.indexTable).forall(t =>
        t.tail.isEmpty && t.partitioner.map(_.numPartitions).contains(partitions)))
      (g, inBase)
    }

  /** 22 genres under the root, two songs each: genres 0-10 sit in the
    * materialized bases, genres 11-21 in the tails.
    */
  private lazy val fixture: (GraphSession[Cat], Seq[(Long, Set[Long])]) = {
    val (g, inBase) = keyed(4)
    val inTail = genres(g, 11)
    val st = g.applied()
    assert(st.nodeTable.tail.nonEmpty && st.edgeTable.tail.nonEmpty &&
      st.indexTable.tail.nonEmpty)
    (g, inBase ++ inTail)
  }

  private val songKey = IndexKey("Genre_Song")

  /** How many Scala lambdas Spark's `ClosureCleaner` cleaned on this
    * thread while `f` ran: it logs one `Cleaning indylambda closure` line
    * at DEBUG for each, after which it reads and parses the class file
    * that declares the lambda.
    */
  private def lambdasCleaned(f: => Unit): Int = {
    val name = "org.apache.spark.util.ClosureCleaner"
    val thread = Thread.currentThread.getName
    val lines = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("closure-cleaner-lines", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getThreadName == thread) { lines.add(e.getMessage.getFormattedMessage); () }
    }
    val context = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = context.getConfiguration
    assert(!config.getLoggers.containsKey(name), s"the log configuration already names $name")
    val logger = new LoggerConfig(name, Level.DEBUG, false)
    capture.start()
    logger.addAppender(capture, Level.DEBUG, null)
    config.addLogger(name, logger)
    context.updateLoggers()
    try f
    finally {
      config.removeLogger(name)
      context.updateLoggers()
      capture.stop()
    }
    lines.iterator.asScala.count(_.startsWith("Cleaning indylambda closure"))
  }

  test("a warm read or commit hands Spark no lambda to clean; its task functions serialize") {
    val dir = java.nio.file.Files.createTempDirectory("graft-no-lambda-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val genre = g.newNode(Genre("jazz"))
    g.addTarget(g.root, genre)
    var songs = (1 to 6).map { i => val s = g.newNode(Song(s"j$i")); g.addTarget(genre, s); s }
    store.commit()
    // a SetValue and a RemoveTarget (of an absent edge) materialize all
    // three tables, so every read and the commit lookup scan keyed bases
    g.setValue(genre, Genre("jazz"))
    g.removeTarget(g.root, g.root)
    store.commit()
    val st = g.applied()
    assert(Seq(st.nodeTable, st.edgeTable, st.indexTable).forall(t =>
      t.tail.isEmpty && t.partitioner.isDefined), "the bases did not materialize")
    // the same rows as planned bases: their reads run the probe's job
    val planned = GraphState(spark, CatalogueModel, st.nodes, st.edges, st.index)
    val first = songs
    def readsAndCommit(i: Int): Unit = {
      assert(g.getValue(genre) === Genre("jazz"))
      assert(g.applied().getValues(songs).keySet === songs.toSet)
      assert(g.getTargets(genre, songKey).toSet === songs.toSet)
      assert(g.targets(genre).toSet === songs.toSet)
      assert(g.sources(genre) === Seq(g.root))
      val job = CostProbe.costOf(spark) {
        assert(planned.getValue(genre) === Genre("jazz"))
        assert(planned.getValues(first).keySet === first.toSet)
        assert(planned.getTargets(genre, songKey).toSet === first.toSet)
        assert(planned.targets(genre).toSet === first.toSet)
        assert(planned.sources(genre) === Seq(g.root))
      }
      assert(job.jobs === 5, s"5 reads of planned bases: $job")
      val c = CostProbe.costOf(spark) {
        val song = g.newNode(Song(s"warm$i"))
        g.addTarget(genre, song)
        store.commit()
        songs :+= song
      }
      assert(c.jobs === 0, s"newNode + addTarget + commit: $c")
    }
    readsAndCommit(1)
    val cleaned = lambdasCleaned(readsAndCommit(2))
    assert(cleaned === 0, s"a warm read or commit handed Spark $cleaned lambdas")
    // the control: a lambda handed to Spark is seen, so a renamed log
    // line fails this test instead of passing it with 0
    val sc = spark.sparkContext
    val control = lambdasCleaned(
      assert(sc.runJob(sc.parallelize(1 to 4, 2), (it: Iterator[Int]) => it.sum).sum === 10))
    assert(control >= 1, s"a lambda handed to runJob logged $control cleaning lines")
    store.close()
    // unchecked by the cleaner, the task functions must still survive the
    // serializer that ships them to the executors
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def roundTrip[T <: AnyRef: ClassTag](f: T): T = ser.deserialize[T](ser.serialize[AnyRef](f))
    val keep = roundTrip(new GraphState.KeepRows(_.getLong(0) == 7L))
    val collect = roundTrip(GraphState.CollectRows)
    val kept = collect(null, keep(Iterator(InternalRow(5L), InternalRow(7L))))
    assert(kept.map(_.getLong(0)).toSeq === Seq(7L))
  }

  test("getValue and getTargets on keyed bases run no Spark job") {
    val (g, genres) = fixture
    for ((genre, songs) <- Seq(genres.head, genres.last)) {
      val v = CostProbe.costOf(spark)(assert(g.getValue(genre).isInstanceOf[Genre]))
      assert(v.jobs === 0 && v.sqlExecutions === 0, s"getValue($genre): $v")
      val t = CostProbe.costOf(spark)(assert(g.getTargets(genre, songKey).toSet === songs))
      assert(t.jobs === 0 && t.sqlExecutions === 0, s"getTargets($genre): $t")
      val o = CostProbe.costOf(spark)(assert(g.targets(genre).toSet === songs))
      assert(o.jobs === 0 && o.sqlExecutions === 0, s"targets($genre): $o")
      val i = CostProbe.costOf(spark)(assert(g.sources(genre) === Seq(g.root)))
      assert(i.jobs === 0 && i.sqlExecutions === 0, s"sources($genre): $i")
    }
    intercept[NoSuchElementException](g.getValue(424242L))
  }

  /** Drops the blocks of `t`'s base partitions that `keep` does not name. */
  private def dropBlocksBut(t: GraphState.Table, keep: Set[Int]): Unit =
    (0 until t.baseRows.getNumPartitions).filterNot(keep).foreach(p =>
      TestBlocks.remove(RDDBlockId(t.baseRows.id, p)))

  test("over 64-partition bases a read needs only its ids' blocks") {
    val (g, genres) = keyed(64)
    val st = g.applied()
    val tables = Seq(st.nodeTable, st.edgeTable, st.indexTable)
    for ((genre, songs) <- genres.take(3)) {
      val c = CostProbe.costOf(spark) {
        assert(g.getValue(genre).isInstanceOf[Genre])
        assert(g.getTargets(genre, songKey).toSet === songs)
        assert(g.targets(genre).toSet === songs)
        // edges are keyed by src: a lookup by dst scans every partition
        assert(g.sources(genre) === Seq(g.root))
      }
      assert(c.jobs === 0 && c.sqlExecutions === 0, s"reads of $genre: $c")
    }
    // every base keeps only the blocks of the partitions that own the ids
    // read below (an unknown one among them) and the id of a song added
    // later; a read of any other partition would fail
    val five = genres.take(5)
    val unknown = 424242L
    val late = g.newNode(Song("late"))
    val part = st.nodeTable.partitioner.get
    assert(tables.forall(_.partitioner.contains(part)) && part.numPartitions === 64)
    val owners = (five.map(_._1) :+ unknown :+ late).map(part.getPartition).toSet
    assert(owners.size < 64 / 4, s"owners $owners")
    tables.foreach(dropBlocksBut(_, owners))
    val c = CostProbe.costOf(spark) {
      for ((genre, songs) <- five) {
        assert(st.getValue(genre).isInstanceOf[Genre])
        assert(st.getTargets(genre, songKey).toSet === songs)
        assert(st.targets(genre).toSet === songs)
      }
      for (k <- Seq(2, 5)) {
        val ids = five.take(k).map(_._1)
        assert(st.getValues(ids).keySet === ids.toSet)
        assert(st.targets(ids).map { case (id, d) => id -> d.toSet } === five.take(k).toMap)
        assert(st.getTargets(ids.map(_ -> songKey)).map { case ((id, _), d) => id -> d.toSet } ===
          five.take(k).toMap)
      }
      assert(st.getValues(Seq(unknown)).isEmpty)
      // the commit's endpoint lookup: the genre and the new song
      g.addTarget(five.head._1, late)
      assert(g.getTargets(five.head._1, songKey).toSet === five.head._2 + late)
    }
    assert(c.jobs === 0 && c.sqlExecutions === 0, s"reads and a commit over the owning blocks: $c")
    // a read that needs a dropped block fails, as a read of a lost block
    // does: sources scans every partition
    intercept[SparkException](st.sources(five.head._1))
    // and so does a point read once its own owning block is gone
    val genre = five.head._1
    TestBlocks.remove(RDDBlockId(st.nodeTable.baseRows.id, part.getPartition(genre)))
    val e = intercept[SparkException](st.getValue(genre))
    assert(e.getMessage.contains("not found"), e.getMessage)
  }

  test("reads of planned bases run one job and answer what keyed bases answer") {
    val (g, genres) = fixture
    val st = g.applied()
    val keyedIds = genres.map(_._1) :+ g.root :+ 424242L
    val planned = GraphState(spark, CatalogueModel, st.nodes, st.edges, st.index)
    val loaded = GraphState.bulkLoad(spark, CatalogueModel, st.nodes, st.edges)
    def sets(m: Map[Long, Seq[Long]]) = m.map { case (k, v) => k -> v.toSet }
    def keyedTargets(s: GraphState[Cat]) =
      s.getTargets(keyedIds.map(_ -> songKey)).map { case (k, v) => k -> v.toSet }
    for ((name, s) <- Seq("GraphState.apply" -> planned, "bulkLoad" -> loaded)) {
      assert(Seq(s.nodeTable, s.edgeTable, s.indexTable).forall(_.partitioner.isEmpty), name)
      def oneJob[T](read: String)(f: => T): T = {
        var out: Option[T] = None
        val c = CostProbe.costOf(spark) { out = Some(f) }
        assert(c.jobs === 1 && c.sqlExecutions === 0, s"$name $read: $c")
        out.get
      }
      assert(oneJob("getValues")(s.getValues(keyedIds)) === st.getValues(keyedIds), name)
      assert(oneJob("getTargets")(keyedTargets(s)) === keyedTargets(st), name)
      assert(sets(oneJob("targets")(s.targets(keyedIds))) === sets(st.targets(keyedIds)), name)
      assert(sets(oneJob("sources")(s.sources(keyedIds))) === sets(st.sources(keyedIds)), name)
      assert(oneJob("getValue")(s.getValue(genres.head._1)) === Genre("g0"), name)
    }
  }

  test("a scan whose predicate throws releases its block's read lock") {
    val (g, _) = keyed(4)
    val nodes = g.applied().nodeTable
    val rows = nodes.baseRows
    // the partition that holds the root: its scan tests at least one row
    val p = nodes.partitioner.get.getPartition(g.root)
    val throwing = new GraphState.KeepRows(_ => throw new IllegalStateException("boom"))
    val e = intercept[IllegalStateException](GraphState.scanInPlace(rows, p, throwing))
    assert(e.getMessage === "boom")
    // removal waits for every read lock on the block: a leaked one would
    // hold it forever
    val removed = Future(TestBlocks.remove(RDDBlockId(rows.id, p)))(ExecutionContext.global)
    Await.result(removed, 30.seconds)
    assert(GraphState.scanInPlace(rows, p, new GraphState.KeepRows(_ => true)).isEmpty,
      "the block is still there")
  }

  test("the first reads of a fresh state's keyed bases compile no class") {
    val g = GraphSession.inMemory(spark, GaugeModel, GaugeRoot: Gauge)
    val readings = (1 to 6).map { i =>
      val r = g.newNode(Reading(i.toShort, i / 4d)); g.addTarget(g.root, r); r -> i
    }
    g.setValue(readings.head._1, Reading(1, 0.25))
    g.removeTarget(g.root, g.root)
    val st = g.applied()
    assert(Seq(st.nodeTable, st.edgeTable, st.indexTable).forall(t =>
      t.tail.isEmpty && t.partitioner.isDefined), "the bases did not materialize")
    val (leaf, i) = readings.last
    val compiles = CostProbe.compilesOf {
      assert(g.getValue(leaf) === Reading(i.toShort, i / 4d))
      assert(g.getTargets(g.root, IndexKey("Root_Reading", i.toString)) === Seq(leaf))
      assert(g.targets(g.root).toSet === readings.map(_._1).toSet)
      assert(g.sources(leaf) === Seq(g.root))
    }
    assert(compiles === 0L, s"the first reads of a state compiled $compiles classes")
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
