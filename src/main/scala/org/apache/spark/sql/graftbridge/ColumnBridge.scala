package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridges graft's native Catalyst expressions into the public Column API.
  * Spark 4 made Column <-> Expression conversion private[sql]
  * (org.apache.spark.sql.classic.ExpressionUtils), so this one-file shim
  * lives inside the sql package namespace; everything else in this library
  * stays in graft.*.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** A frame over an RDD of internal rows of `schema`, with no encoder: the
  * scan projects each row to an unsafe row, so a producer may reuse one
  * mutable row. The constructor is private[sql] in Spark 4, as above.
  */
object FrameBridge {
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)
}
