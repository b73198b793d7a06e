package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/**
 * Minimal bridge into Spark's `private[sql]` Column↔Expression conversions
 * (Spark 4 moved them behind `org.apache.spark.sql.classic.ExpressionUtils`).
 * This is the standard pattern for third-party Catalyst extensions: one shim
 * object living under `org.apache.spark.sql` so the package-private API is
 * reachable, everything else stays in the `graft` namespace.
 */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function builder on the session's function registry. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `rows` (Catalyst values of `schema`) as a local relation: the plan
    * `createDataFrame(rows, schema)` builds from `Row`s, with no
    * conversion. */
  def localRelation(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.withActive(Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows)))
  }
}
