package graft.graph

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The BFS behind getStats and checkpoint GC: its answer, and the size of
  * the plan it hands back after a deep walk.
  */
class ReachabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a 45-level walk returns the driver BFS's rows from a plan of at most 17 leaves") {
    import spark.implicits._
    // a chain 0 → 1 → … → 44 closing back to 0, a side branch every tenth
    // level, and a component the seed does not reach
    val edges = (0 until 44).map(i => (i.toLong, i + 1L)) ++ Seq((44L, 0L)) ++
      (0 until 44 by 10).map(i => (i.toLong, 100L + i)) ++ Seq((500L, 501L), (501L, 0L))
    val reach = Reachability.reachable(edges.toDF("src", "dst"), Seq(0L))

    val out = edges.groupMap(_._1)(_._2)
    var seen = Set(0L)
    var frontier = Set(0L)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(out.getOrElse(_, Nil)) -- seen
      seen ++= frontier
    }
    assert(reach.as[Long].collect().toSet === seen)
    assert(seen.size === 50)

    val leaves = reach.queryExecution.logical.collect { case r: LogicalRDD => r }
    assert(leaves.size <= 17, s"visited holds ${leaves.size} LogicalRDD leaves after 45 levels")
  }
}
