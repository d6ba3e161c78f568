package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: Spark jobs and stages (tied to units by the
  * job group the benchmark sets), and every executed query's Catalyst
  * phases from `qe.tracker`. Only public listener APIs are used; an
  * untraced run never attaches this.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val qes = ArrayBuffer.empty[Map[String, Any]]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Map("job" -> e.jobId, "group" -> group(e.properties), "start_ms" -> e.time)
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnds(e.jobId) = e.time
      touch()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageGroup(e.stageInfo.stageId) = group(e.properties)
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += Map("stage" -> i.stageId, "group" -> stageGroup.getOrElse(i.stageId, null),
        "tasks" -> i.numTasks,
        "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
        "shuffle_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
      touch()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
    synchronized {
      qes += Map("qe" -> qe.id, "func" -> funcName, "phases" -> phases)
      touch()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until the listener bus has been quiet for a while, so the
    * events of the last unit are in before they are written out.
    */
  def settle(quietMs: Long = 500L, maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
        (System.currentTimeMillis() - lastEventMs < quietMs ||
          synchronized(jobs.exists(j => !jobEnds.contains(j("job").asInstanceOf[Int])))))
      Thread.sleep(50)
  }

  def json: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.toSeq.map(j =>
        j + ("end_ms" -> jobEnds.getOrElse(j("job").asInstanceOf[Int], j("start_ms")))),
      "stages" -> stages.toSeq,
      "qes" -> qes.toSeq)
  }
}
