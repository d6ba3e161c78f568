package graft.analytics

import org.apache.spark.graphx.{Edge, Graph, Pregel}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraphX's built-in graph algorithms, as the oracle the DataFrame
  * algorithms of [[GraphAnalytics]] are checked against. Each returns the
  * same shape as its DataFrame counterpart.
  */
object GraphXOracle {

  /** edges DataFrame (src, dst) → GraphX edge RDD. */
  private def edgeRDD(edges: DataFrame): RDD[Edge[Unit]] =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))

  /** BFS depth of every vertex reachable from `root` (directed), via
    * Pregel min-hop propagation. Returns DataFrame(id, depth).
    */
  def bfsDepths(edges: DataFrame, root: Long): DataFrame = {
    val spark = edges.sparkSession
    val g = Graph.fromEdges(edgeRDD(edges), defaultValue = Int.MaxValue)
      .mapVertices((id, _) => if (id == root) 0 else Int.MaxValue)
    val res = Pregel(g, Int.MaxValue, activeDirection =
      org.apache.spark.graphx.EdgeDirection.Out)(
      vprog = (_, d, msg) => math.min(d, msg),
      sendMsg = t =>
        if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + 1))
        else Iterator.empty,
      mergeMsg = math.min)
    import spark.implicits._
    val out = res.vertices.filter(_._2 != Int.MaxValue)
      .map { case (id, d) => (id, d.toLong) }
      .toDF("id", "depth")
    // Graph.fromEdges materializes only edge ENDPOINTS — an isolated root
    // would otherwise be missing its depth-0 row entirely
    out.unionByName(Seq((root, 0L)).toDF("id", "depth"))
      .groupBy("id").agg(min("depth").as("depth"))
  }

  /** Undirected connected components (GraphX built-in). Returns
    * DataFrame(id, component) with component = min vertex id.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Graph.fromEdges(edgeRDD(edges), defaultValue = ())
      .connectedComponents()
      .vertices.map { case (id, c) => (id, c) }.toDF("id", "component")
  }

  /** PageRank (GraphX built-in), tol-converged. DataFrame(id, rank). */
  def pageRank(edges: DataFrame, tol: Double = 1e-4): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Graph.fromEdges(edgeRDD(edges), defaultValue = ())
      .pageRank(tol)
      .vertices.map { case (id, r) => (id, r) }.toDF("id", "rank")
  }

  /** Total triangle count of an undirected simple graph (GraphX built-in,
    * which canonicalizes and drops self-loops). Each triangle is counted
    * at all 3 vertices, hence the /3. Caller passes (src, dst) edges;
    * duplicates are tolerated (canonicalization dedupes).
    */
  def triangleCount(edges: DataFrame): Long = {
    val g = Graph.fromEdges(edgeRDD(edges), defaultValue = ())
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
    g.triangleCount().vertices.map(_._2.toLong).fold(0L)(_ + _) / 3
  }


  /** GraphX's fixed-iteration PageRank, rescaled to sum to the vertex
    * count (SPARK-18847). Map(id -> rank).
    */
  def staticPageRank(edges: DataFrame, iters: Int): Map[Long, Double] =
    Graph.fromEdges(edgeRDD(edges), defaultValue = ())
      .staticPageRank(iters)
      .vertices.collect().toMap
}
