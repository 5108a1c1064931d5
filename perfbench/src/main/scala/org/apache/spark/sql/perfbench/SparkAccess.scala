package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-private reads the traced run needs. */
object SparkAccess {

  /** Waits until the listener bus has delivered every posted event, so
    * no job of a traced call is missed when the spans are summarized. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning time of the execution that
    * ended, from its `QueryPlanningTracker`. */
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum)
}
