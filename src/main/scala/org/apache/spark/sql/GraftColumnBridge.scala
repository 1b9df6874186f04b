package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters — the standard
  * extension-point shim for libraries that supply custom Catalyst
  * expressions (Spark 4 moved Column internals behind
  * org.apache.spark.sql.classic).
  */
object GraftColumnBridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `schema` with every field, element and value nullable — the shape
    * Spark gives a file source's user-specified schema. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame flagged isStreaming=true over an InternalRow RDD — what a
    * V1 streaming Source's getBatch must return (the micro-batch engine
    * asserts the flag; Kafka's V1 source used the same internal hook).
    */
  def streamingDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema, isStreaming = true)
}
