package graft.tools

import java.nio.file.Files

import graft.graph.GraphQueries.{GeoModel, GeoRoot, GeoV, RegionV}
import graft.store.GraphStore

/** The reference's insert-throughput bench family, made quantitative on
  * this engine: CompetitionBench inserts 1000 random artists through the
  * session API (/root/reference/executables/CompetitionBench.hs:14-54,
  * names per Random.hs:16-24) and NonpersistentBench scales N
  * (/root/reference/executables/NonpersistentBench.hs:9-27). Here: N
  * random name-indexed nodes (RegionV — name-indexed under root, the
  * Artist shape) + root edges through the session API, one durable
  * commit, at N ∈ {1k, 21k, 1M} — the wall-time curve is the receipt.
  * Each N also times the EDGE half through commitBulk (the distributed
  * ingest path; values have no bulk path — they are driver ops by
  * design, see GraphStore.commitBulk's edges-only contract).
  *
  * Emits ONE JSON line; record it in SERVE_r{N}.json.
  *
  * Usage: runMain graft.tools.InsertBench [nCsv]
  */
object InsertBench {

  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("1000,21000,1000000")
      .split(",").toSeq.map(_.trim.toInt)
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))
    import spark.implicits._

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // deterministic "random artist" names, the Random.hs posture: seeded
    // lowercase words of 3-12 chars (uniqueness not required — the index
    // is multi-valued)
    def names(n: Int): IndexedSeq[String] = {
      val rnd = new scala.util.Random(42)
      IndexedSeq.fill(n)(
        (0 until (3 + rnd.nextInt(10))).map(_ =>
          ('a' + rnd.nextInt(26)).toChar).mkString)
    }

    val points = ns.map { n =>
      val dir = Files.createTempDirectory(s"graft-insertbench-$n-").toString
      val store = GraphStore.open(spark, GeoModel, GeoRoot: GeoV, dir)
      val batch = names(n)
      val t0 = System.nanoTime()
      val ids = batch.map(nm => store.session.newNode(RegionV(nm)))
      ids.foreach(id => store.session.addTarget(store.session.root, id))
      store.commit()
      val sessionSec = (System.nanoTime() - t0) / 1e9
      // edge half through the distributed bulk path, for contrast: N
      // fresh synthetic node ids wired under the root in ONE cluster-side
      // WAL batch (values stay as inserted above)
      val t1 = System.nanoTime()
      store.commitBulk(
        spark.range(n.toLong)
          .select(org.apache.spark.sql.functions.lit(0L).as("src"),
            (org.apache.spark.sql.functions.col("id") + 2000000000L).as("dst")))
      val bulkSec = (System.nanoTime() - t1) / 1e9
      store.close()
      s"""{"n":$n,"session_sec":${fmt(sessionSec)},""" +
        s""""session_inserts_per_sec":${fmt(n / sessionSec)},""" +
        s""""bulk_edges_sec":${fmt(bulkSec)},""" +
        s""""bulk_edges_per_sec":${fmt(n / bulkSec)}}"""
    }

    println(
      s"""{"metric":"insert_bench","points":${points.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
