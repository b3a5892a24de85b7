package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 moved `Column` to the expression-free sql-api module; the
  * converter (`classic.ExpressionUtils`) is private[sql], so library code
  * registering its own expressions reaches it from an sql subpackage — the
  * established pattern for Spark-native extension libraries.
  */
object ExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native-expression SQL function on an EXISTING session
    * (`sessionState.functionRegistry` is private[sql]); the
    * `spark.sql.extensions` config path covers sessions built with
    * [[graft.GraftExtensions]] from the start.
    */
  def registerFunction(spark: org.apache.spark.sql.classic.SparkSession,
                       id: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)

  /** N-ary union as ONE flat logical Union node. `frames.reduce(_ union _)`
    * nests N-1 BINARY Unions, and the analyzer's set-op reconciliation
    * (WidenSetOperationTypes and friends) re-walks every nesting level — at
    * a 100-frame fan-in that superlinear analyzer pass dominates plan
    * construction. All frames must be position-compatible
    * (same column count, coercible types), exactly as `union` requires.
    */
  def flatUnion(frames: Seq[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    require(frames.nonEmpty, "flatUnion of zero frames")
    if (frames.size == 1) frames.head
    else {
      val classic = frames.map(_.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]])
      org.apache.spark.sql.classic.Dataset.ofRows(
        classic.head.sparkSession,
        org.apache.spark.sql.catalyst.plans.logical.Union(classic.map(_.logicalPlan)))
    }
  }
}
