package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Access to `private[spark]` scheduler internals: the listener-bus
  * barrier, and the operation scopes of a stage's RDDs.
  */
object ListenerBusShim {

  /** Returns once every event posted so far has been delivered to the
    * listeners.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The distinct operation-scope names of a stage's RDDs, the stage's own
    * RDD first (e.g. `WholeStageCodegen (2)`, `Exchange`): what a stage
    * runs when its call site names only a scheduler thread.
    */
  def scopeNames(i: StageInfo): Seq[String] =
    i.rddInfos.flatMap(_.scope.map(_.name)).distinct
}
