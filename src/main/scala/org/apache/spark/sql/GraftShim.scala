package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge for native Catalyst extensions: Column <-> Expression conversion
  * is `private[sql]` in Spark 4 (`classic.ExpressionUtils`), so
  * third-party native expressions expose their Column API through this
  * shim — the standard extension-library pattern (same mechanism Spark
  * connectors use).
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The same rows as `df`, as a frame of `home`: a relabel of the
    * plan, nothing is re-planned or moved. Only a non-streaming
    * `LogicalRDD` (what `foreachBatch` hands over: an already-planned
    * batch) may be rehomed; any other plan would be re-analyzed on
    * `home`, outside the query execution that planned it, so it throws.
    */
  def rehome(home: SparkSession, df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD if !r.isStreaming =>
        classic.Dataset.ofRows(home.asInstanceOf[classic.SparkSession], r)
      case p => throw new IllegalArgumentException(
        s"rehome needs a non-streaming LogicalRDD, got ${p.getClass.getName}" +
          (if (p.isStreaming) " (streaming)" else ""))
    }
}
