package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{GraftSession, SparkEntry}

/** Where a declared query's time goes, in one of three modes:
  *  - `explain`: the formatted static plan (PLANS.md is generated from it);
  *  - `plan`: runs the query through the `noop` sink, then prints the final
  *    adaptive plan and, per parquet scan, the files it read (`numFiles`)
  *    and, under dynamic partition pruning, the files before pruning
  *    (`staticFilesNum`);
  *  - `jobs`: per run, wall and process CPU time, Spark jobs and codegen
  *    compiles, and job seconds grouped by `spark.job.description` (e.g.
  *    the `ivf2-build:` phases of the two-level index build); after the
  *    last run, the slowest stages with their tasks, executor run/CPU
  *    time, and shuffle and output records.
  *
  * Usage: runMain graft.tools.Inspect <query[,query…]> <sfDir>
  *                                    [explain|plan|jobs] [repeat]
  */
object Inspect extends AdaptiveSparkPlanHelper {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus(4))
    print(run(spark, args))
    spark.stop()
  }

  /** CPU time of this JVM: driver and local executors together. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The report for `args` (as [[main]] takes them), on a session the
    * caller owns.
    */
  def run(spark: SparkSession, args: Array[String]): String = {
    require(args.length >= 2,
      "usage: Inspect <query[,query…]> <sfDir> [explain|plan|jobs] [repeat]")
    val names = args(0).split(",").toSeq
    val sf = args(1)
    val mode = args.lift(2).getOrElse("jobs")
    val repeat = args.lift(3).fold(1)(_.toInt)
    require(repeat >= 1, s"repeat must be at least 1, got $repeat")
    val out = new StringBuilder
    def line(s: String): Unit = out ++= s ++= "\n"
    def query(name: String) = SparkEntry.queries(name)(spark, sf)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      mode match {
        case "explain" =>
          line(s"===== $name =====")
          line(query(name).queryExecution.explainString(FormattedMode))
        case "plan" =>
          // the write plans its own QueryExecution, so the final plan is
          // the one its listener event carries, not `df.queryExecution`'s
          val plan = CostProbe.costOf(spark)(noop(query(name))).plans.last
          line(s"===== $name final plan =====")
          line(plan.toString)
          collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foreach { s =>
            val files = Seq("numFiles", "staticFilesNum").flatMap(k =>
              s.metrics.get(k).map(m => s"$k=${m.value}"))
            line(s"[scan] ${s.relation.location.rootPaths.mkString(",")} " +
              files.mkString(" "))
          }
        case "jobs" =>
          val costs = (1 to repeat).map { i =>
            val (t0, c0) = (System.nanoTime(), processCpuNs())
            val cost = CostProbe.costOf(spark)(noop(query(name)))
            val wall = (System.nanoTime() - t0) / 1e9
            val cpu = (processCpuNs() - c0) / 1e9
            line(f"$name run $i: $wall%.3f s wall, $cpu%.3f s cpu, " +
              s"${cost.jobs} jobs, ${cost.compiles} compiles")
            cost.finished.groupBy(_.description).toSeq
              .sortBy(-_._2.map(_.seconds).sum).foreach { case (d, js) =>
                line(f"  ${js.map(_.seconds).sum}%8.3f s  ${js.size}%3d jobs  " +
                  (if (d.isEmpty) "(no description)" else d) + "  [" +
                  js.map(j => f"${j.seconds}%.2f").mkString(" ") + "]")
              }
            cost
          }
          line(s"$name slowest stages of run $repeat:")
          costs.last.stages.sortBy(-_.seconds).take(8).foreach { s =>
            line(f"  stage ${s.id}%4d ${s.seconds}%7.3f s tasks=${s.tasks}%-4d " +
              f"run=${s.runMs / 1e3}%.2f s cpu=${s.cpuMs / 1e3}%.2f s " +
              s"shuffleRead=${s.shuffleRead} shuffleWritten=${s.shuffleWritten} " +
              s"out=${s.outputRecords}  ${s.site.take(60)}")
          }
        case other =>
          throw new IllegalArgumentException(
            s"unknown mode $other (explain, plan or jobs)")
      }
    }
    out.toString
  }
}
