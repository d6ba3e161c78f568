package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** What a block of driver code costs in Spark: the jobs it starts, the
  * stages they run and the classes whole-stage codegen compiles for it.
  */
object CostProbe {

  /** A finished job: its `spark.job.description` ("" when unset). */
  final case class Job(id: Int, description: String, seconds: Double)

  /** A completed stage with its summed task metrics; `site` is the first
    * graft (or Dataset) frame of its call site, else the operation scopes
    * of its RDDs.
    */
  final case class Stage(id: Int, site: String, tasks: Int, seconds: Double,
      runMs: Long, cpuMs: Long, shuffleRead: Long, shuffleWritten: Long,
      outputRecords: Long)

  /** The Spark jobs a block started, the Dataset actions it ran by name
    * ("collect", "localCheckpoint", …, failed ones included), the executed
    * plans of its successful actions (final adaptive plans), its finished
    * jobs and stages, the codegen compiles meanwhile, the SQL executions
    * it started — each one a planned query run through Catalyst; a job
    * run straight on an RDD starts none — and the milliseconds the JVM's
    * JIT compilers and garbage collectors spent meanwhile, in every
    * thread (the block's own work and whatever ran beside it), and the
    * CPU of the JVM's Java threads by family ([[ThreadCpu]]).
    */
  final case class Cost(jobs: Int, actions: Seq[String], plans: Seq[SparkPlan],
      finished: Seq[Job], stages: Seq[Stage], compiles: Long, sqlExecutions: Int,
      jitMs: Long, gcMs: Long, threads: ThreadCpu) {
    /** Tasks run by the block's completed stages. */
    def tasks: Int = stages.map(_.tasks).sum

    override def toString: String =
      s"Cost($jobs jobs, $tasks tasks, $sqlExecutions SQL executions, actions $actions, " +
        s"$compiles compiles, JIT $jitMs ms, GC $gcMs ms, $threads)"
  }

  /** CPU ms of Java threads over a block, by family: the thread that ran
    * the block (`caller`), executor task threads, the DAG scheduler's
    * event loop, the listener-bus queues, the rpc dispatchers with the
    * task-result getters, and every other Java thread. The window closes
    * after the listener bus has delivered the block's events. Read
    * through `ThreadMXBean`, it misses the CPU of a thread that exits
    * inside the block, and JIT and GC threads, which are no Java threads,
    * are in none (see [[Cost]]'s `jitMs` and `gcMs`). All 0 where the JVM
    * does not measure thread CPU.
    */
  final case class ThreadCpu(callerMs: Long, executorMs: Long, schedulerMs: Long,
      listenerMs: Long, rpcMs: Long, otherMs: Long) {
    override def toString: String =
      s"threads: caller $callerMs ms, executor $executorMs ms, dag-scheduler $schedulerMs ms, " +
        s"listener $listenerMs ms, rpc $rpcMs ms, other $otherMs ms"
  }

  /** Run `f` and return its [[Cost]]. Listener events are asynchronous, so
    * the bus is drained before the listeners attach (events of earlier work
    * must not count) and again after `f` (its own events must).
    */
  def costOf(spark: SparkSession)(f: => Unit): Cost = {
    val started = new ConcurrentHashMap[Int, (String, Long)]()
    val finished = new ConcurrentLinkedQueue[Job]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val actions = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val executions = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet(); ()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val description = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        started.put(e.jobId, (description, e.time)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.get(e.jobId)).foreach { case (d, t0) =>
          finished.add(Job(e.jobId, d, (e.time - t0) / 1e3))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val seconds = (for (a <- i.completionTime; b <- i.submissionTime)
          yield (a - b) / 1e3).getOrElse(0d)
        // AQE submits query stages from its own pool, whose call site
        // names no graft or Dataset frame: name those by their RDDs' scopes
        val site = i.details.linesIterator
          .find(l => l.contains("graft.") || l.contains("Dataset"))
          .orElse(Some(ListenerBusShim.scopeNames(i)).filter(_.nonEmpty)
            .map(_.mkString(", ")))
          .getOrElse(i.name).trim
        val m = Option(i.taskMetrics)
        stages.add(Stage(i.stageId, site, i.numTasks, seconds,
          m.fold(0L)(_.executorRunTime), m.fold(0L)(_.executorCpuTime / 1000000L),
          m.fold(0L)(_.shuffleReadMetrics.recordsRead),
          m.fold(0L)(_.shuffleWriteMetrics.recordsWritten),
          m.fold(0L)(_.outputMetrics.recordsWritten)))
        ()
      }
    }
    val actionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName); plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
        actions.add(funcName); ()
      }
    }
    ListenerBusShim.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      val (jit0, gc0, threads0) = (jitMs(), gcMs(), threadCpuNs())
      val compiles = compilesOf(f)
      val (jit, gc) = (jitMs() - jit0, gcMs() - gc0)
      ListenerBusShim.drain(spark.sparkContext)
      Cost(started.size, actions.asScala.toList, plans.asScala.toList,
        finished.asScala.toList.sortBy(_.id), stages.asScala.toList.sortBy(_.id),
        compiles, executions.get, jit, gc, threadCpuSince(threads0))
    } finally {
      spark.listenerManager.unregister(actionListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  /** Total JIT compilation ms of this JVM so far; 0 where the JVM does not
    * report it.
    */
  private def jitMs(): Long = {
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime
    else 0L
  }

  /** Total collection ms of this JVM's garbage collectors so far
    * (a collector that reports none counts 0).
    */
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private val threadMX = ManagementFactory.getThreadMXBean

  /** CPU ns so far of every live Java thread, with its name, by thread
    * id; empty where the JVM does not measure thread CPU.
    */
  private def threadCpuNs(): Map[Long, (String, Long)] =
    if (!threadMX.isThreadCpuTimeSupported || !threadMX.isThreadCpuTimeEnabled) Map.empty
    else {
      val ids = threadMX.getAllThreadIds
      ids.iterator.zip(threadMX.getThreadInfo(ids).iterator).collect {
        case (id, info) if info != null => id -> (info.getThreadName, threadMX.getThreadCpuTime(id))
      }.filter(_._2._2 >= 0).toMap
    }

  /** The family of a Spark thread by its name; an executor thread is
    * renamed for each task it runs, and keeps the prefix.
    */
  private def family(name: String): String =
    if (name.startsWith("Executor task launch worker")) "executor"
    else if (name.startsWith("dag-scheduler")) "scheduler"
    else if (name.startsWith("spark-listener-group")) "listener"
    else if (name.startsWith("dispatcher-") || name.startsWith("rpc-") ||
        name.startsWith("task-result-getter")) "rpc"
    else "other"

  /** [[ThreadCpu]] from `before` (a [[threadCpuNs]] reading) to now; a
    * thread started since counts from 0.
    */
  private def threadCpuSince(before: Map[Long, (String, Long)]): ThreadCpu = {
    val caller = Thread.currentThread.getId
    val ms = threadCpuNs().toSeq.map { case (id, (name, ns)) =>
      (if (id == caller) "caller" else family(name)) -> (ns - before.get(id).fold(0L)(_._2))
    }.groupMapReduce(_._1)(_._2)(_ + _).map { case (f, ns) => f -> ns / 1000000L }
    def of(f: String) = ms.getOrElse(f, 0L)
    ThreadCpu(of("caller"), of("executor"), of("scheduler"), of("listener"), of("rpc"), of("other"))
  }

  /** Run `f` and return how many classes codegen compiled meanwhile (cache
    * hits are not compiles).
    */
  def compilesOf(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
