package graft.graph

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** What a block of driver code costs in Spark: the jobs it starts and the
  * classes whole-stage codegen compiles for it.
  */
object CostProbe {

  /** The Spark jobs a block started, and the Dataset actions it ran by
    * name ("collect", "localCheckpoint", …).
    */
  final case class Cost(jobs: Int, actions: Seq[String])

  /** Run `f` and return its [[Cost]]. Listener events are asynchronous, so
    * the bus is drained before the listeners attach (events of earlier work
    * must not count) and again after `f` (its own events must).
    */
  def costOf(spark: SparkSession)(f: => Unit): Cost = {
    val jobs = new AtomicInteger()
    val actions = new ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val actionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
        actions.add(funcName); ()
      }
    }
    ListenerBusShim.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      f
      ListenerBusShim.drain(spark.sparkContext)
      Cost(jobs.get(), actions.asScala.toList)
    } finally {
      spark.listenerManager.unregister(actionListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
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
