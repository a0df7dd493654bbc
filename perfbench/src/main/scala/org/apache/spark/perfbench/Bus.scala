package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Access to private[spark] scheduler state for the traced run. */
object Bus {
  /** Waits for every queued listener event, so the counters of a span are
    * read only after all its task-end events have been delivered.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Operator scopes of a stage's RDDs (physical plan node names). */
  def scopeNames(info: StageInfo): Seq[String] =
    info.rddInfos.flatMap(_.scope.map(_.name))
}
