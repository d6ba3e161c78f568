package graft.store

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.graph._

/** Driver-written WAL batches ([[OpBatchFile]]) read back through
  * `spark.read.parquet` exactly as batches written by a Spark job do,
  * [[OpBatchFile.read]] reads both kinds exactly as `spark.read.parquet`
  * does, and a WAL that holds both kinds replays to the live session's
  * state.
  */
class WalBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val schema = GraphStore.opSchema(CatalogueModel)

  private def names(dir: Path): Set[String] =
    GraphStore.listPaths(dir).map(_.getFileName.toString).toSet

  /** A batch written the way every WAL batch was before [[OpBatchFile]]: a
    * one-task Spark parquet write, which leaves `_SUCCESS` behind.
    */
  private def sparkWrite(rows: Seq[Row], dir: Path): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir.toString)

  test("a driver-written batch reads back with the op schema and the same rows") {
    val ops: Seq[GraphOp[Cat]] = Seq(
      GraphOp.NewNode(1L, Artist(7, "Michael Jackson")),
      GraphOp.NewNode(2L, Genre("rock")),
      GraphOp.NewNode(3L, CatRoot),
      GraphOp.SetValue(2L, Genre("pop")),
      GraphOp.AddTarget(0L, 1L),
      GraphOp.RemoveTarget(0L, 1L),
      GraphOp.RemoveNode(2L))
    val rows = ops.zipWithIndex.map { case (op, i) => GraphStore.opToRow(CatalogueModel, op, 10L + i) }
    // fields of the value struct that a kind does not use are null
    assert(rows.exists(r => !r.isNullAt(6) && (0 until r.getStruct(6).length).exists(r.getStruct(6).isNullAt)))
    val base = Files.createTempDirectory("graft-walbatch-")
    val driver = base.resolve("driver")
    OpBatchFile.write(spark, schema, rows, driver)
    val files = names(driver)
    assert(files.size === 2 && files.contains("_SUCCESS") &&
      files.exists(_.matches("""part-00000-[0-9a-f-]{36}\.snappy\.parquet""")), files)
    assert(Files.size(driver.resolve("_SUCCESS")) === 0L)

    val read = spark.read.parquet(driver.toString)
    val viaSpark = base.resolve("spark")
    sparkWrite(rows, viaSpark)
    val readSpark = spark.read.parquet(viaSpark.toString)
    // the file source reads every column as nullable, whichever writer
    assert(read.schema === StructType(schema.map(_.copy(nullable = true))))
    assert(read.schema === readSpark.schema)
    val got = read.orderBy("seq").collect().toSeq
    assert(got === rows)
    assert(got === readSpark.orderBy("seq").collect().toSeq)
    assert(got.map(GraphStore.rowToOp(CatalogueModel, _)) === ops)
    // the writer refuses an existing directory, as ErrorIfExists did
    intercept[java.nio.file.FileAlreadyExistsException](
      OpBatchFile.write(spark, schema, rows, driver))
  }

  test("property: OpBatchFile.read of a batch == spark.read.parquet (rich values, edge doubles)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import DeriveSpecADT._
    val model = GraphModel.derive[Rich]((_, _) => Seq.empty)
    val richSchema = GraphStore.opSchema(model)
    val edge = Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, Double.MinPositiveValue, Double.MaxValue)
    val dbl = Gen.frequency(1 -> edge, 1 -> Gen.chooseNum(-1e6, 1e6))
    val str = Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map(_.take(6)), Gen.const("\"q\" \\ é"))
    val value: Gen[Rich] = Gen.oneOf(
      Gen.const(RichRoot: Rich),
      for (n <- Gen.chooseNum(Long.MinValue, Long.MaxValue); tags <- Gen.listOf(str).map(_.take(4));
        note <- Gen.option(str); x <- dbl; y <- dbl) yield Wide(n, tags, note, Point(x, y)),
      Gen.listOf(Gen.chooseNum(-128, 127)).map(bs => Blobby(bs.take(8).map(_.toByte).toArray)))
    val id = Gen.chooseNum(0L, 50L)
    val op: Gen[GraphOp[Rich]] = Gen.oneOf(
      Gen.zip(id, value).map { case (i, v) => GraphOp.NewNode(i, v) },
      Gen.zip(id, value).map { case (i, v) => GraphOp.SetValue(i, v) },
      Gen.zip(id, id).map { case (a, b) => GraphOp.AddTarget[Rich](a, b) },
      Gen.zip(id, id).map { case (a, b) => GraphOp.RemoveTarget[Rich](a, b) },
      id.map(GraphOp.RemoveNode[Rich](_)))
    val fixed = Seq[GraphOp[Rich]](
      GraphOp.NewNode(1L, Wide(0L, Seq(""), Some(""), Point(Double.NaN, -0.0))),
      GraphOp.SetValue(1L, Wide(-1L, Seq.empty, None,
        Point(Double.PositiveInfinity, Double.NegativeInfinity))),
      GraphOp.NewNode(2L, Blobby(Array.emptyByteArray)),
      GraphOp.RemoveNode(2L))
    val columns = StructType(Seq("op", "id", "src").map(richSchema(_)))
    // Row equality calls 0.0 and -0.0 equal: compare doubles by their bits
    def canon(v: Any): Any = v match {
      case r: Row => r.toSeq.map(canon)
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case b: Array[Byte] => b.toSeq
      case xs: scala.collection.Seq[_] => xs.map(canon).toList
      case x => x
    }
    def same(a: Seq[Row], b: Seq[Row], what: String): Unit =
      assert(a.map(canon) === b.map(canon), what)
    def bySeq(rows: Seq[Row]) = rows.sortBy(_.getLong(0))
    (0 until 6).foreach { i =>
      val seed = 2000L + i
      val ops = if (i == 0) fixed else if (i == 1) Seq.empty
        else Gen.choose(1, 12).flatMap(Gen.listOfN(_, op))(Gen.Parameters.default, Seed(seed))
          .getOrElse(sys.error(s"gen failed for seed $seed"))
      val rows = ops.zipWithIndex.map { case (o, j) => GraphStore.opToRow(model, o, 100L + j) }
      val base = Files.createTempDirectory("graft-opbatch-prop-")
      val driver = base.resolve("driver")
      OpBatchFile.write(spark, richSchema, rows, driver)
      val viaSpark = base.resolve("spark")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), richSchema)
        .write.parquet(viaSpark.toString)
      if (rows.size >= 3)
        assert(GraphStore.listPaths(viaSpark).count(_.getFileName.toString.endsWith(".parquet")) > 1)
      same(bySeq(spark.read.parquet(driver.toString).collect().toSeq), rows,
        s"seed $seed: the oracle itself")
      val got = OpBatchFile.read(spark, Some(richSchema), driver)
      same(got, rows, s"seed $seed: a driver-written batch reads in write order")
      same(OpBatchFile.read(spark, None, driver), rows, s"seed $seed: footer schema")
      same(bySeq(OpBatchFile.read(spark, Some(richSchema), viaSpark)),
        bySeq(spark.read.parquet(viaSpark.toString).collect().toSeq), s"seed $seed: Spark-written")
      assert(OpBatchFile.read(spark, Some(columns), driver).map(_.toSeq) ===
        rows.map(r => Seq(r.get(1), r.get(2), r.get(3))), s"seed $seed: projection")
      if (rows.size > 1) {
        val k = rows.size / 2
        same(OpBatchFile.read(spark, Some(richSchema), driver, k), rows.take(k),
          s"seed $seed: limit $k")
        assert(OpBatchFile.read(spark, Some(richSchema), viaSpark, k).size === k)
      }
    }
  }

  test("a batch's ops replay in seq order, not file order") {
    val dir = Files.createTempDirectory("graft-walorder-")
    val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    s1.commit() // the root's NewNode
    s1.abandon()
    val events = GraphStore.listDirs(dir, _.endsWith(".events")).head
    val ops = Seq[GraphOp[Cat]](GraphOp.NewNode(1L, Genre("rock")),
      GraphOp.SetValue(1L, Genre("pop")), GraphOp.AddTarget(0L, 1L))
    val base = (1L << 44) | (1L << 28)
    OpBatchFile.write(spark, schema, ops.zipWithIndex.reverse.map { case (op, i) =>
      GraphStore.opToRow(CatalogueModel, op, base + i)
    }, events.resolve("batch-000001"))
    val s2 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    assert(s2.session.getValue(1L) === Genre("pop"))
    assert(s2.session.getTargets(0L, IndexKey("Catalogue_Genre_Name", "pop")) === Seq(1L))
    s2.close()
  }

  private def table(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def tables(g: GraphSession[Cat]): Seq[Seq[String]] = {
    val st = g.applied()
    Seq(table(st.nodes.select("id", "kind", "value")),
      table(st.edges.select("src", "dst")),
      table(st.index.select("src", "kkind", "key", "dst")))
  }

  for (buffered <- Seq(false, true))
    test(s"a WAL of Spark-written then driver-written batches replays to the live state (buffered=$buffered)") {
      val dir = Files.createTempDirectory("graft-walmix-")
      val s1 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString, buffered)
      val g = s1.session
      val mj = g.newNode(Artist(1, "Michael Jackson"))
      val rock = g.newNode(Genre("rock"))
      g.addTarget(g.root, mj); g.addTarget(g.root, rock)
      s1.commit()
      val bj = g.newNode(Song("Billie Jean"))
      g.addTarget(rock, bj); g.addTarget(bj, mj)
      s1.commit()
      s1.drain()
      // rewrite the two batches so far as a Spark job writes them
      val events = GraphStore.listDirs(dir, _.endsWith(".events")).head
      val early = GraphStore.listDirs(events, _.startsWith("batch-"))
      assert(early.size === 2)
      early.foreach { b =>
        val rows = spark.read.parquet(b.toString).collect().toSeq
        val staged = dir.resolve("_rewrite").resolve(b.getFileName.toString)
        sparkWrite(rows, staged)
        GraphStore.listPaths(b).foreach(Files.delete)
        Files.delete(b)
        Files.move(staged, b)
        assert(names(b).exists(_.endsWith("-c000.snappy.parquet")), names(b))
      }
      // later batches: driver-written, including a SetValue and removals
      g.setValue(rock, Genre("pop"))
      val thriller = g.newNode(Song("Thriller"))
      g.addTarget(rock, thriller); g.addTarget(thriller, mj)
      s1.commit()
      g.removeTarget(rock, bj)
      g.remove(thriller)
      s1.commit()
      s1.drain()
      val live = tables(g)
      val liveTargets = g.getTargets(g.root, IndexKey("Catalogue_Genre_Name", "pop"))
      s1.abandon() // no checkpoint: the reopen replays all four batches
      assert(GraphStore.listDirs(events, _.startsWith("batch-")).size === 4)

      val s2 = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
      assert(tables(s2.session) === live)
      assert(s2.session.getTargets(s2.session.root,
        IndexKey("Catalogue_Genre_Name", "pop")) === liveTargets)
      assert(liveTargets === Seq(rock))
      s2.close()
    }
}
