package graft.tools

import org.apache.spark.sql.functions._

/** Measures what GraphStoreSpec only proves correct: the COST of WAL
  * replay at open() as a function of un-checkpointed batch depth — the
  * operational claim behind the reference's replay model
  * (/root/reference/library/GraphDB/Storage.hs:104-148): checkpoint
  * cadence bounds recovery time, because every batch committed since the
  * last checkpoint is re-read, re-ordered, and re-applied on the next
  * open.
  *
  * Protocol: build a store with a bulk-ingested edge base and checkpoint
  * it (close), then measure open+first-read at 0 pending batches; crash
  * (abandon) after N driver-op batches and measure again; crash after 2N
  * and measure again. Each open is a fresh store handle; the forcing
  * read (nodes + index counts) is included because GraphState is lazy —
  * replay builds plans, the first query pays them.
  *
  * Emits one JSON line: open_0 / open_N / open_2N seconds plus the
  * configured volumes.
  */
object RecoveryRehearsal {

  def main(args: Array[String]): Unit = {
    val baseEdges = if (args.nonEmpty) args(0).toLong else 2000000L
    val nBatches = if (args.length > 1) args(1).toInt else 20
    val opsPerBatch = if (args.length > 2) args(2).toInt else 50
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    import graft.graph.GraphQueries
    import graft.store.GraphStore
    val model = GraphQueries.GeoModel
    val root: GraphQueries.GeoV = GraphQueries.GeoRoot
    val dir = java.nio.file.Files
      .createTempDirectory("graft-recovery-").toString

    // base: a driver-op node population plus a bulk edge ingest, then a
    // clean close → everything checkpointed
    val nodeN = 2000
    locally {
      val s = GraphStore.open(spark, model, root, dir)
      val ids = (0 until nodeN).map(i =>
        s.session.newNode(GraphQueries.CustomerV(i.toLong)))
      ids.take(64).foreach(id => s.session.addTarget(s.session.root, id))
      s.commit()
      s.commitBulk(spark.range(baseEdges).select(
        (pmod(xxhash64(col("id")), lit(nodeN.toLong)) + 1).as("src"),
        (pmod(xxhash64(col("id"), lit(7)), lit(nodeN.toLong)) + 1).as("dst")))
      s.close()
    }

    // one WAL batch = opsPerBatch driver ops, then commit(); abandon() at
    // the end simulates the crash that leaves the batches un-checkpointed
    def addBatches(n: Int, salt: Long): Unit = {
      val s = GraphStore.open(spark, model, root, dir)
      (0 until n).foreach { b =>
        (0 until opsPerBatch).foreach { i =>
          val k = salt + b.toLong * opsPerBatch + i
          s.session.addTarget(
            (k * 2654435761L % nodeN).abs + 1,
            (k * 40503L % nodeN).abs + 1)
        }
        s.commit()
      }
      s.abandon()
    }

    def timedOpen(label: String): Double = {
      val t0 = System.nanoTime()
      val s = GraphStore.open(spark, model, root, dir)
      val st = s.session.applied()
      val nodes = st.nodes.count()
      val edges = st.edges.count() // the replayed addTargets land HERE
      val idx = st.index.count()
      val sec = (System.nanoTime() - t0) / 1e9
      s.abandon() // leave the WAL exactly as found — no checkpoint
      println(
        f"[recovery] $label: $sec%.3f s (nodes=$nodes, edges=$edges, index=$idx)")
      sec
    }

    val open0 = timedOpen("open at 0 pending batches")
    addBatches(nBatches, salt = 1000003L)
    val openN = timedOpen(s"open at $nBatches pending batches")
    addBatches(nBatches, salt = 9000017L)
    val open2N = timedOpen(s"open at ${2 * nBatches} pending batches")

    println(s"""{"metric":"recovery_rehearsal","unit":"sec"""" +
      s""","base_edges":$baseEdges,"node_n":$nodeN""" +
      s""","batches":$nBatches,"ops_per_batch":$opsPerBatch""" +
      f""","open_0":$open0%.3f,"open_N":$openN%.3f,"open_2N":$open2N%.3f}""")
    spark.stop()
  }
}
