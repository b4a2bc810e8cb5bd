package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column↔Expression conversion `private[sql]`
  * (ExpressionUtils in columnNodeSupport.scala). This bridge — placed in the
  * sql package like every third-party Catalyst extension does — re-exports
  * just the two conversions the graft expressions need.
  */
object bridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap a LogicalPlan as a DataFrame (classic.Dataset.ofRows is
    * private[sql] in Spark 4) — needed by custom logical operators
    * (graft.plans.Skyline) to re-enter the public Dataset API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The ANALYZED logical plan of a DataFrame (attributes resolved), for
    * embedding as the child of a custom logical node. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Drop the cached blocks behind a `localCheckpoint()`ed DataFrame
    * (guide §5: iterative loops that checkpoint per round otherwise
    * accumulate every superseded round's blocks until a GC triggers the
    * ContextCleaner). A local checkpoint truncates lineage, so the blocks
    * are the ONLY copy — call this strictly on frames no later plan still
    * references. No-op on anything that is not a checkpoint scan. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The RDDs a DataFrame's plan scans directly — its localCheckpoint and
    * createDataFrame leaves, subqueries included. */
  def rddLeaves(df: org.apache.spark.sql.Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectWithSubqueries {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        case er: org.apache.spark.sql.execution.ExternalRDD[_] => er.rdd
      }
}
