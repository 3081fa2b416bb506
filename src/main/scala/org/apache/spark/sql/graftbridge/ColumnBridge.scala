package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst-Expression bridge. `ExpressionUtils` is `private[sql]`
  * in Spark 4's Scala signatures, so — as extension libraries conventionally
  * do — this shim lives inside the `org.apache.spark.sql` package hierarchy
  * to lift the conversions our custom expressions need. The other files in
  * this namespace lift other private APIs the same way (the V1 `Source`
  * interface, `V1Table`, the listener bus); all engine logic stays in
  * `graft.*`. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → concrete (pre-analysis) catalyst tree. `expression` returns a
    * lazy `ColumnNodeExpression` wrapper in Spark 4; structural inspection
    * (e.g. extracting partition-column conjuncts) needs the converted tree,
    * where `=`/`in`/`and` appear as `UnresolvedFunction`s. */
  def catalystExpression(c: Column): Expression = expression(c) match {
    case org.apache.spark.sql.classic.ColumnNodeExpression(node) =>
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(node)
    case e => e
  }

  /** `Dataset.ofRows` — materialize an analyzed logical plan as a DataFrame
    * (needed by command `run` implementations; `classic.Dataset` is
    * `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Rebind a streaming micro-batch DataFrame as a batch DataFrame over the
    * same physical rows (what `foreachBatch` does internally) so a V1
    * `Sink.addBatch` implementation can run ordinary batch writes on it. */
  def rebatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
