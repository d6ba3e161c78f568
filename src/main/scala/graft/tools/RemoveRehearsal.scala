package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** The remove-is-O(touched-cells) receipt behind removeFromTwoLevelIndex:
  * remove a small fraction of a large index's ids and measure (a) wall
  * clock, (b) partitions rewritten vs total, (c) that untouched cells'
  * files are byte-identical (same names+sizes) — the claim that index
  * removal scales with the ids' own cells, never the corpus. Also runs
  * the degenerate full-cell removal (every id of one cell) to receipt
  * the emptied-partition reclamation.
  *
  * Reads `embeddings.parquet` under the given data dir. Emits ONE JSON
  * line; record it in SERVE_r{N}.json / SCALE_r{N}.json.
  *
  * Usage: runMain graft.tools.RemoveRehearsal [dataDir] [removeEveryNth]
  */
object RemoveRehearsal {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nth = if (args.length > 1) args(1).toInt else 100
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    val corpus = graft.Tables.load(spark, dataDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = corpus.count()
    val side = Similarity.twoLevelSide(n)
    val dir = Files.createTempDirectory("graft_remove_rehearsal").toString
    val tB0 = System.nanoTime()
    Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
      nlist1 = side, k2 = side, iters = 1)
    val buildSec = (System.nanoTime() - tB0) / 1e9

    def cellFiles(): Map[String, Seq[(String, Long)]] = {
      val p0 = new org.apache.hadoop.fs.Path(s"$dir/cells")
      val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // qualify BEFORE prefix-stripping: listFiles returns fully-qualified
      // (scheme-carrying) paths while the raw string has none
      val p = fs.makeQualified(p0)
      val it = fs.listFiles(p, true)
      val acc = scala.collection.mutable.Map
        .empty[String, List[(String, Long)]].withDefaultValue(Nil)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val cell = f.getPath.getParent.toString.stripPrefix(p.toString)
          acc(cell) = (f.getPath.getName, f.getLen) :: acc(cell)
        }
      }
      acc.view.mapValues(_.sortBy(_._1)).toMap
    }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // fractional remove: every nth id
    val rmIds = corpus.where(pmod(col("vec_id"), lit(nth)) === 0)
      .select(col("vec_id"))
    val rmCount = rmIds.count()
    val before = cellFiles()
    val touched = Similarity.loadTwoLevelIndex(spark, dir).cells
      .join(rmIds.withColumnRenamed("vec_id", "nbr"), Seq("nbr"))
      .select("_c1", "_c2").distinct().collect()
      .map(r => s"/_c1=${r.getInt(0)}/_c2=${r.getInt(1)}").toSet
    val tR0 = System.nanoTime()
    Similarity.removeFromTwoLevelIndex(spark, dir, rmIds, "vec_id")
    val removeSec = (System.nanoTime() - tR0) / 1e9
    val after = cellFiles()
    val untouchedIdentical = before.keySet.filterNot(touched)
      .forall(c => before(c) == after.getOrElse(c, Nil))
    val remaining = Similarity.loadTwoLevelIndex(spark, dir).cells.count()

    // degenerate: empty one whole cell, receipt the dir reclamation
    val c0 = Similarity.loadTwoLevelIndex(spark, dir).cells
      .groupBy("_c1", "_c2").count().orderBy("_c1", "_c2").head()
    val cellIds = Similarity.loadTwoLevelIndex(spark, dir).cells
      .where(col("_c1") === c0.getInt(0) && col("_c2") === c0.getInt(1))
      .select(col("nbr"))
    val emptiedCount = cellIds.count()
    val tE0 = System.nanoTime()
    Similarity.removeFromTwoLevelIndex(spark, dir, cellIds, "nbr")
    val emptySec = (System.nanoTime() - tE0) / 1e9
    val dirGone = !Similarity.hadoopExists(spark,
      s"$dir/cells/_c1=${c0.getInt(0)}/_c2=${c0.getInt(1)}")

    println(
      s"""{"metric":"index_remove","n_vectors":$n,"side":$side,""" +
        s""""build_sec":${fmt(buildSec)},""" +
        s""""removed_ids":$rmCount,"remove_sec":${fmt(removeSec)},""" +
        s""""cells_total":${before.size},"cells_touched":${touched.size},""" +
        s""""untouched_files_identical":$untouchedIdentical,""" +
        s""""rows_after":$remaining,""" +
        s""""empty_cell_ids":$emptiedCount,"empty_cell_sec":${fmt(emptySec)},""" +
        s""""emptied_partition_dir_deleted":$dirGone}""")
    spark.stop()
  }
}
