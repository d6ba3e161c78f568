package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** The append-fragmentation receipt behind compactTwoLevelIndex AND the
  * r18 auto-compaction default: each append writes one file per TOUCHED
  * cell per batch, so after K batches a hot cell holds up to K files —
  * incrementally re-creating the tasks×cells file-count pathology the
  * r15 build-path fix eliminated (file listing + per-file footer
  * overhead dominating the serve; measured 3.9 → 0.7 s there). This tool
  * measures it END-TO-END at K ∈ {0, 8, 32} append batches over the same
  * corpus, in BOTH maintenance modes:
  *  - `autoCompact = false`: fragmentation accumulates; files/serve
  *    before and after one MANUAL compaction (the r17 receipt shape);
  *  - `autoCompact = true` (the r18 default): appends self-compact past
  *    [[Similarity.DefaultCompactFilesPerCell]] — files and serve
  *    latency must stay bounded with NO manual call.
  * Plus the O(metadata) clone receipt: cloneIndex wall seconds vs the
  * recursive FileUtil.copy it replaced (the px68/px69 isolation path).
  *
  * File counts come from the RESOLVED cells source (manifest-aware —
  * the live generation's file list, not a directory glob).
  *
  * Reads `embeddings.parquet` under the given data dir. Emits ONE JSON
  * line; record it in SERVE_r{N}.json.
  *
  * Usage: runMain graft.tools.CompactionRehearsal [dataDir] [k]
  */
object CompactionRehearsal {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    val corpus = graft.Tables.load(spark, dataDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = corpus.count()
    // occupancy-sized for the FULL corpus the index will eventually hold
    val side = Similarity.twoLevelSide(n)
    val base = corpus.where(pmod(col("vec_id"), lit(33)) === 0)
    def batch(b: Int): DataFrame =
      corpus.where(pmod(col("vec_id"), lit(33)) === b)
    val queries = corpus.orderBy("vec_id").limit(64).localCheckpoint(true)

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    /** Live-generation file count, manifest-aware. */
    def liveFiles(dir: String): Long = Similarity.liveCellFileCount(spark, dir)

    // median-of-3 warm serve (the quantized path — px63's, the serving
    // shape); a fresh plan per run so file listing is paid each time
    def serveSec(dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        Similarity.quantizedTopKFromIndex(spark, dir, queries,
          "vec_id", "embedding", k = k).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm
      Seq.fill(3)(once()).sorted.apply(1)
    }

    def arm(kb: Int, autoCompact: Boolean): String = {
      val dir = Files.createTempDirectory(
        s"graft_compact_k${kb}_a$autoCompact").toString
      Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", dir,
        nlist1 = side, k2 = side, iters = 1)
      (1 to kb).foreach(b =>
        Similarity.appendToTwoLevelIndex(spark, dir, batch(b),
          "vec_id", "embedding", dedupeIds = false,
          autoCompact = autoCompact))
      val filesPre = liveFiles(dir)
      val pre = serveSec(dir)
      if (autoCompact) {
        s"""{"append_batches":$kb,"auto_compact":true,""" +
          s""""files":$filesPre,"serve_sec":${fmt(pre)}}"""
      } else {
        val tC0 = System.nanoTime()
        Similarity.compactTwoLevelIndex(spark, dir)
        val compactSec = (System.nanoTime() - tC0) / 1e9
        val filesPost = liveFiles(dir)
        val post = serveSec(dir)
        s"""{"append_batches":$kb,"auto_compact":false,""" +
          s""""files_pre":$filesPre,"serve_sec_pre":${fmt(pre)},""" +
          s""""compact_sec":${fmt(compactSec)},"files_post":$filesPost,""" +
          s""""serve_sec_post":${fmt(post)}}"""
      }
    }

    val rows =
      Seq(0, 8, 32).map(arm(_, autoCompact = false)) ++
        Seq(8, 32).map(arm(_, autoCompact = true))

    // O(metadata) clone receipt over a fragmented index: manifest clone
    // vs the recursive copy px68's builder used before r18
    val srcDir = Files.createTempDirectory("graft_clone_src").toString
    Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", srcDir,
      nlist1 = side, k2 = side, iters = 1)
    (1 to 8).foreach(b =>
      Similarity.appendToTwoLevelIndex(spark, srcDir, batch(b),
        "vec_id", "embedding", dedupeIds = false, autoCompact = false))
    val tmpRoot = Files.createTempDirectory("graft_clone_dst").toString
    val t0 = System.nanoTime()
    Similarity.cloneIndex(spark, srcDir, s"$tmpRoot/clone")
    val cloneSec = (System.nanoTime() - t0) / 1e9
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(srcDir)
    val fs = sp.getFileSystem(conf)
    val t1 = System.nanoTime()
    org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs,
      new org.apache.hadoop.fs.Path(s"$tmpRoot/copy"), false, conf)
    val copySec = (System.nanoTime() - t1) / 1e9
    val cloneServe = serveSec(s"$tmpRoot/clone")

    println(
      s"""{"metric":"compaction","n_vectors":$n,"side":$side,"k":$k,""" +
        s""""batch":64,"files_per_cell_threshold":""" +
        s"""${Similarity.DefaultCompactFilesPerCell},""" +
        s""""rows":${rows.mkString("[", ",", "]")},""" +
        s""""clone":{"files":${liveFiles(srcDir)},""" +
        s""""clone_sec":${fmt(cloneSec)},"copy_sec":${fmt(copySec)},""" +
        s""""clone_serve_sec":${fmt(cloneServe)}}}""")
    spark.stop()
  }
}
