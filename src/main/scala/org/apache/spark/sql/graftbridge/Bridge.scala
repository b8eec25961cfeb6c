package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Catalyst Expression bridge. Spark 4 hides the conversion
  * behind `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala); a subpackage of `org.apache.spark.sql` is
  * the sanctioned extension-library workaround for registering custom
  * expressions without going through the SQL function registry.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** One `LocalRelation` over `rows`, with no conversion from `Row`:
    * analysis is all it costs until collected, and its collect runs no
    * Spark job. `rows` must not change afterwards.
    */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A frame over an RDD of Catalyst rows, with no conversion from `Row`. */
  def rddFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Drain the async listener bus (bounded wait). StreamingQueryListener
    * events ride `SparkContext.listenerBus` (private[spark]) on async
    * queues; a caller reading listener-fed telemetry right after a query
    * returns must flush first or late events land on the next query.
    */
  def flushListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
