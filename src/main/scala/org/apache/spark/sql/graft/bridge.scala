/* Bridge into Spark's private[sql] Column <-> Expression converters.
 *
 * Spark 4 unified `Column` around ColumnNode (Connect + classic); the
 * classic-side converters live in org.apache.spark.sql.classic.ExpressionUtils
 * as private[sql]. Custom Catalyst expressions (graft.functions.BoundedTopK)
 * need exactly these two functions, so this file sits in a subpackage of
 * org.apache.spark.sql — the standard extension-library pattern (same move
 * as delta/frameless bridges). The other private members used are listed
 * with their wrappers below.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object bridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Public alias for the private[sql] supertype of DataType used by
    * `ExpectsInputTypes.inputTypes` — needed so custom expressions outside
    * org.apache.spark.sql can declare analyzer-checked input types. */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** Register a function builder on an existing session's registry
    * (sessionState is private[sql]; new sessions should use
    * spark.sql.extensions with graft.GraftExtensions instead). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Drop a persisted RDD's blocks without `RDD.unpersist`'s WARN for a
    * locally checkpointed RDD (its lineage is cut, so it cannot be
    * recomputed afterwards) — for callers that release such an RDD for good
    * once their last job has run. SparkContext.unpersistRDD is
    * private[spark]. */
  def releaseRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Wait until every listener has seen every event posted so far
    * (SparkContext.listenerBus is private[spark]). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Post an event to every listener, behind the events already queued. */
  def postEvent(sc: org.apache.spark.SparkContext,
      e: org.apache.spark.scheduler.SparkListenerEvent): Unit = sc.listenerBus.post(e)
}
