package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge between the public `Column` API and Catalyst `Expression`s for
 * graft's native expressions. Spark 4 split Column from Expression and the
 * conversion point (`classic.ExpressionUtils`) is `private[sql]`, so this
 * one-file shim lives under the org.apache.spark.sql namespace — the
 * standard pattern for libraries shipping custom catalyst Expressions.
 */
object ColumnBridge {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGERLY converted Catalyst expression of a Column — [[expr]]
    * returns a lazy `ColumnNodeExpression` wrapper whose `.sql`
    * renders as `columnnodeexpression(...)` (not re-parseable); this
    * runs the classic converter so `.sql` yields real SQL text (what
    * the DML statement record persists). */
  def catalystExpr(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a LogicalPlan (classic Dataset.ofRows is
    * private[sql]) — needed to hand custom logical operators to the
    * planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame. */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Re-flag a batch DataFrame's relation leaves as STREAMING — what a
    * V1 `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming` on the returned frame; FileStreamSource does the
    * same thing via a streaming LogicalRelation). */
  def asStreamingFrame(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val plan = analyzedPlan(df).transform {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.copy(isStreaming = true)
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.copy(isStreaming = true)
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // curried copy (second list carries the session)
        lr.copy(isStreaming = true)(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          None, None)
    }
    ofRows(spark, plan)
  }

  /** BATCH frame from the micro-batch frame a V1 `Sink.addBatch`
    * receives: that frame's leaves are flagged streaming, so any
    * re-analysis (`.write`, re-planning transforms) is refused by the
    * UnsupportedOperationChecker — the standard V1-sink move (what
    * FileStreamSink does via FileFormatWriter) is to take the
    * ALREADY-PLANNED IncrementalExecution's row RDD and wrap it as a
    * plain batch frame. Rows are defensively copied: the scan reuses
    * unsafe-row buffers, and the sink body range-shuffles them. */
  def asBatchFrame(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rows = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd.map(_.copy())
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, df.schema, isStreaming = false)
  }

  /** Whether the session's planner runs `strategy`. */
  def plansWith(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies.contains(strategy)
}
