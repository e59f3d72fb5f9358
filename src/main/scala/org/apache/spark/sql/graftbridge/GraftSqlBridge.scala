package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge to `private[sql]` classic APIs of Spark 4: the
  * Column↔Expression converters (the pre-4.0 `new Column(expr)` constructor
  * is gone), needed only for expressions that carry non-literal state (e.g.
  * a k-means centroid matrix) and so can't be routed through the SQL
  * function registry like the rest of graft.functions; and a DataFrame over
  * already-computed catalyst rows.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
