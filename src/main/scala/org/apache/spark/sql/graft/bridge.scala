package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's package-private Column↔Expression
  * converters and Dataset factory (Spark 4 moved them behind
  * `private[sql]`). Lives in an `org.apache.spark.sql` subpackage
  * purely to satisfy that scope — the standard technique for
  * custom-Expression libraries. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `s` with every field, element and value nullable — the schema a
    * parquet read returns for data written under `s`. */
  def nullable(s: StructType): StructType = s.asNullable

  /** `df`'s already-resolved plan as a frame of `s`: the same rows,
    * optimized, planned and run under `s`'s SQL conf. */
  def onSession(df: DataFrame, s: SparkSession): DataFrame =
    if (df.sparkSession eq s) df
    else classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)
}
