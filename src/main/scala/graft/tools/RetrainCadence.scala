package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Stale-centroid cadence receipt: how far can [[Similarity.appendToTwoLevelIndex]]
  * drift from the trained quantizer before recall makes a retrain
  * mandatory? K batches of DRIFTED vectors (each batch the corpus rotated
  * i·30° in the first two dims with disjoint ids — progressively farther
  * from every trained centroid, the ScaleRehearsal drift trick) are
  * appended to a FIXED-centroid index, and at K = 0/2/8 we record
  *
  *  - recall@k of the stale-index serve vs exact brute force, for queries
  *    drawn from the NEWEST batch (where staleness hurts most),
  *  - recall@k of a same-data REFIT index (the retrain alternative), and
  *  - the cell-occupancy skew ratio (max/mean cell size) of the stale
  *    index — the metric a maintenance job can watch as the retrain
  *    trigger, since drifted appends pile into the few nearest stale
  *    cells instead of spreading at the trained occupancy.
  *
  * Emits ONE JSON line; record it in SCALE_r{N}.json with the documented
  * trigger threshold.
  *
  * Usage: runMain graft.tools.RetrainCadence [dataDir] [k]
  */
object RetrainCadence {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    val base = graft.Tables.load(spark, dataDir, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val n = base.count()
    // tighter-than-default occupancy and a probe fraction of ~4% of the
    // sub-cells: staleness only shows when the quantizer's cell ranking
    // actually gates recall (probing half the index hides any drift — the
    // first, rejected run of this harness measured exactly that)
    val side = math.max(4, math.ceil(
      math.sqrt(Similarity.autoNlist(n, targetOccupancy = 16).toDouble)).toInt)
    val (p1, nprobe) = (math.max(2, side / 4), math.max(4, side / 2))

    // batch i = base rotated i·30° in EVERY consecutive dim pair — a
    // block-diagonal orthogonal rotation, so norms and within-batch
    // neighbor structure are preserved while the whole batch's cosine to
    // its originals is cos(i·30°): by i = 2 the appended clusters sit in
    // directions NO trained centroid covers. (A 2-dims-only rotation was
    // measured first and rejected: in 64 dims it perturbs cosines by <2%,
    // stale == refit at every K — a null drift, not a cadence tradeoff.)
    def rotated(i: Int): DataFrame = {
      val th = i * math.Pi / 6
      val c = math.cos(th); val s = math.sin(th)
      base.select(
        (col("vec_id") + lit(i.toLong * 1000000000L)).as("vec_id"),
        expr(
          s"""transform(embedding, (x, j) ->
             |  CASE WHEN j % 2 = 0 AND j + 2 <= size(embedding)
             |         THEN cast(x * $c
             |                  - element_at(embedding, j + 2) * $s as float)
             |       WHEN j % 2 = 1
             |         THEN cast(element_at(embedding, j) * $s
             |                  + x * $c as float)
             |       ELSE x END)""".stripMargin).as("embedding"))
    }

    def recallOf(served: DataFrame, truth: DataFrame, q: Long): Double =
      served.select("qid", "nbr")
        .join(truth.select("qid", "nbr"), Seq("qid", "nbr"))
        .count().toDouble / (q * k)

    def skewOf(cells: DataFrame): Double = {
      val occ = cells.groupBy("_c1", "_c2").agg(count(lit(1)).as("c"))
        .agg(max("c").cast("double").as("mx"), avg("c").as("mean")).head()
      occ.getDouble(0) / occ.getDouble(1)
    }

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

    val points = Seq(0, 2, 8).map { bigK =>
      // stale path: train on base, append drifted batches 1..bigK
      val staleDir = Files.createTempDirectory(s"graft_cadence_stale_$bigK").toString
      Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", staleDir,
        nlist1 = side, k2 = side, iters = 1)
      (1 to bigK).foreach(i =>
        Similarity.appendToTwoLevelIndex(spark, staleDir, rotated(i),
          "vec_id", "embedding"))
      val union = (0 to bigK).map(i => if (i == 0) base else rotated(i))
        .reduce(_ unionByName _).localCheckpoint(true)
      // refit path: same union, centroids retrained
      val refitDir = Files.createTempDirectory(s"graft_cadence_refit_$bigK").toString
      Similarity.saveTwoLevelIndex(union, "vec_id", "embedding", refitDir,
        nlist1 = side, k2 = side, iters = 1)
      // queries from the NEWEST region, ground truth exact
      val queries = (if (bigK == 0) base else rotated(bigK))
        .orderBy("vec_id").limit(64).localCheckpoint(true)
      val nq = queries.count()
      val truth = Similarity.bruteForceTopK(union, queries,
        "vec_id", "embedding", k).localCheckpoint(true)
      val staleIdx = Similarity.loadTwoLevelIndex(spark, staleDir)
      val rStale = recallOf(
        Similarity.twoLevelTopKFromIndex(staleIdx, queries,
          "vec_id", "embedding", k, p1 = p1, nprobe = nprobe), truth, nq)
      val rRefit = recallOf(
        Similarity.twoLevelTopKFromIndex(
          Similarity.loadTwoLevelIndex(spark, refitDir), queries,
          "vec_id", "embedding", k, p1 = p1, nprobe = nprobe), truth, nq)
      val skew = skewOf(staleIdx.cells)
      val skewRefit = skewOf(
        Similarity.loadTwoLevelIndex(spark, refitDir).cells)
      s"""{"appended_batches":$bigK,"recall_stale":${fmt(rStale)},""" +
        s""""recall_refit":${fmt(rRefit)},"skew_stale":${fmt(skew)},""" +
        s""""skew_refit":${fmt(skewRefit)}}"""
    }

    println(
      s"""{"metric":"retrain_cadence","n_base":$n,"nlist1":$side,"k2":$side,""" +
        s""""k":$k,"p1":$p1,"nprobe":$nprobe,""" +
        s""""points":${points.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
