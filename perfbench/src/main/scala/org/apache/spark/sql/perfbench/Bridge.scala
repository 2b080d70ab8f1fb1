package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The benchmark's only reach into Spark internals: the listener bus
  * and the block manager are `private[spark]`, and the query an
  * execution-end event belongs to is `private[sql]`.
  */
object Bridge {

  /** Block until every event posted so far has been delivered to every
    * listener, so counters read afterwards are complete.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Id of the query an execution-end event belongs to, which links the
    * event to the `QueryExecutionListener` callback for the same query.
    */
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)

  /** Number of RDD blocks the driver's block manager still holds. */
  def rddBlocks(sc: SparkContext): Int =
    sc.env.blockManager.getMatchingBlockIds(_.isRDD).size
}
