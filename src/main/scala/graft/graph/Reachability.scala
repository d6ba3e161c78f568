package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Reachability from a seed set — the engine analog of the reference's BFS
  * (serialize/getStats both walk the root-reachable closure,
  * /root/reference/library/GraphDB/Graph.hs:82-118,145-195).
  *
  * Implemented as an iterative frontier-expansion join over the `edges`
  * DataFrame, localCheckpoint-ing per level so the plan stays flat. Each
  * level is one shuffle-free-ish job when `edges` is partitioned by `src`
  * (frontier is broadcast when small — the common case). This is the same
  * dataflow Pregel runs (graft.analytics.GraphAnalytics runs BFS depths
  * the same way).
  */
object Reachability {

  private val idSchema = StructType(Seq(StructField("id", LongType, nullable = false)))

  /** BFS levels between checkpoints of `visited`: each level unions one
    * checkpointed frontier into it, so without a checkpoint a deep walk
    * grows its plan (and the analysis of every later level's anti-join)
    * one leaf per level without bound.
    */
  private val CheckpointEvery = 16

  /** DataFrame(id) of every node reachable from `seeds` (inclusive). */
  def reachable(edges: DataFrame, seeds: Seq[Long]): DataFrame = {
    val spark = edges.sparkSession
    var visited = spark.createDataFrame(
      spark.sparkContext.parallelize(seeds.distinct.map(Row(_)), 1), idSchema)
      .localCheckpoint(true)
    var frontier = visited
    var frontierSize = seeds.distinct.size.toLong
    var level = 0
    while (frontierSize > 0) {
      // broadcast only while the frontier is actually small — a BFS level
      // that fans out to hundreds of millions of ids must shuffle-join, or
      // the broadcast build side OOMs the driver/executors
      val fr =
        if (frontierSize <= 5_000_000L) broadcast(frontier) else frontier
      val next = edges
        .join(fr, edges("src") === fr("id"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .localCheckpoint(true)
      frontierSize = next.count()
      if (frontierSize > 0) {
        // `visited` is a union of checkpointed frontiers (each `next` is
        // materialized for its count), so lineage stays flat without an
        // eager job per level; every CheckpointEvery levels the union
        // itself is checkpointed, so its leaves stay bounded too
        level += 1
        visited = visited.unionByName(next)
        if (level % CheckpointEvery == 0) visited = visited.localCheckpoint(true)
        frontier = next
      }
    }
    visited
  }
}
