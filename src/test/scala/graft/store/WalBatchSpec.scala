package graft.store

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.graph._

/** Driver-written WAL batches ([[OpBatchFile]]) read back through
  * `spark.read.parquet` exactly as batches written by a Spark job do, and a
  * WAL that holds both kinds replays to the live session's state.
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
