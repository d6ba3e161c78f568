package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.TestSpark
import graft.tools.Inspect

/** The specs run the production configuration, and `Inspect` reports on
  * the shared session without stopping it.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def inspect(mode: String): String =
    Inspect.run(spark, Array("r1_filter_project", sf, mode))

  private def stillWorks(): Unit =
    assert(spark.range(5).selectExpr("sum(id)").head().getLong(0) === 10L)

  test("the spec session carries GraftSession's engine settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly") === "false")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "1048576")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.sparkContext.master === "local[4]")
  }

  test("Inspect explain prints the formatted static plan") {
    val out = inspect("explain")
    assert(out.startsWith("===== r1_filter_project =====\n"), out)
    assert(out.contains("== Physical Plan ==") && out.contains("Scan parquet"), out)
    stillWorks()
  }

  test("Inspect plan prints the final adaptive plan and the scan's files") {
    val out = inspect("plan")
    assert(out.contains("isFinalPlan=true") && out.contains("Scan parquet"), out)
    assert("""\[scan\] \S*lineitem\S* numFiles=[1-9]""".r.findFirstIn(out).nonEmpty, out)
    stillWorks()
  }

  test("Inspect jobs prints wall and CPU time, job and compile counts, and stages") {
    val out = inspect("jobs")
    val wall = """r1_filter_project run 1: [0-9.,]+ s wall, [0-9.,]+ s cpu, (\d+) jobs, (\d+) compiles""".r
      .findFirstMatchIn(out)
    assert(wall.exists(_.group(1).toInt >= 1), out)
    assert(out.contains("slowest stages of run 1:\n  stage "), out)
    // stages AQE submits from its pool are named by their RDDs' scopes
    val stages = out.linesIterator.filter(_.startsWith("  stage ")).toSeq
    assert(stages.nonEmpty && !stages.exists(_.contains("CompletableFuture")), out)
    stillWorks()
  }
}
