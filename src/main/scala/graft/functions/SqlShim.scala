// Package gateway: Column <-> catalyst Expression converters are
// private[sql] in Spark 4.x, so third-party native expressions need a
// one-file bridge compiled into the org.apache.spark.sql package — the
// standard pattern used by OSS Spark extension libraries.
package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an analyzed LogicalPlan subtree back into a DataFrame —
    * `Dataset.ofRows` is private[sql]. Used by PlanGuardSpec to execute
    * a Window node's CHILD in isolation (row count + partition-key NDV)
    * for the low-cardinality-key skew guard. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run `f` on the physical rows of `df` (`queryExecution.toRdd`, no
    * Row conversion and so no encoder classes) as one SQL execution, so
    * listeners see its jobs and plan as they see a `collect`'s. */
  def withRows[T](df: DataFrame)(f: RDD[InternalRow] => T): T = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("rows"))(f(qe.toRdd))
  }

  /** `df`'s rows as copied internal rows, collected by its own physical
    * plan (one SQL execution, no Row deserializer). */
  def collectRows(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect().map(_.copy()))
  }

  /** A frame over driver-held internal rows (a LocalRelation). */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A frame over an RDD of internal rows (a LogicalRDD with no origin
    * statistics), without the Row round trip of `createDataFrame`. */
  def rddFrame(spark: SparkSession, rows: RDD[InternalRow],
               schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)
}
