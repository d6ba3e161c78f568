package graft

import org.scalatest.funsuite.AnyFunSuite

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.graph.TestSpark
import graft.tools.{CostProbe, Inspect}

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

  test("CostProbe counts tasks and JIT and GC ms, and starts no job of its own") {
    val idle = CostProbe.costOf(spark)(())
    assert(idle.jobs === 0 && idle.tasks === 0 && idle.stages.isEmpty, idle)
    def gcTotal() = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    def jitTotal() = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val rdd = spark.sparkContext.parallelize(1 to 100, 6)
    val (gc0, jit0) = (gcTotal(), jitTotal())
    val c = CostProbe.costOf(spark) { assert(rdd.map(_ * 2).sum() === 10100d); System.gc() }
    val (gc, jit) = (gcTotal() - gc0, jitTotal() - jit0)
    assert(c.jobs === 1 && c.tasks === 6 && c.stages.map(_.tasks).sum === 6, c)
    // the deltas are taken inside the probe's own window
    assert(c.gcMs >= 0 && c.gcMs <= gc && c.jitMs >= 0 && c.jitMs <= jit, s"$c: GC $gc, JIT $jit")
    assert(c.toString.contains("1 jobs, 6 tasks") && c.toString.contains(s"GC ${c.gcMs} ms"), c)
  }

  test("CostProbe splits Java thread CPU by family, and an idle block starts no job") {
    val idle = CostProbe.costOf(spark)(())
    assert(idle.jobs === 0 && idle.tasks === 0, idle)
    val t = idle.threads
    assert(Seq(t.callerMs, t.executorMs, t.schedulerMs, t.listenerMs, t.rpcMs, t.otherMs)
      .forall(_ >= 0), idle)
    val bean = ManagementFactory.getThreadMXBean
    val spin = CostProbe.costOf(spark) {
      val until = bean.getCurrentThreadCpuTime + 200000000L
      while (bean.getCurrentThreadCpuTime < until) {}
    }
    // 200 ms of this thread's CPU, less the coarse clock's rounding
    assert(spin.jobs === 0 && spin.threads.callerMs >= 150, spin)
    val rdd = spark.sparkContext.parallelize(1 to 4, 4)
    val job = CostProbe.costOf(spark) {
      assert(rdd.map { i =>
        val task = ManagementFactory.getThreadMXBean
        val until = task.getCurrentThreadCpuTime + 50000000L
        while (task.getCurrentThreadCpuTime < until) {}
        i
      }.sum() === 10d)
    }
    // 4 tasks of 50 ms each run on executor threads, not on the caller
    assert(job.jobs === 1 && job.tasks === 4 && job.threads.executorMs >= 150, job)
    assert(job.threads.callerMs < job.threads.executorMs, job)
    assert(job.toString.contains(s"threads: caller ${job.threads.callerMs} ms, executor"), job)
  }
}
