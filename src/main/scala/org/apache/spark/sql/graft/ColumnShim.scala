package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4 bridges: `Column` ↔ Catalyst `Expression`, and [[persistRows]].
  *
  * Spark 4 moved `new Column(expr)` / `col.expr` behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`.
  * Custom-Expression libraries (this one) need exactly those two
  * conversions, so this one-file shim lives in the `org.apache.spark.sql`
  * namespace — the standard extension-library pattern for Spark 4.
  */
object ColumnShim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[toExpression]] eagerly CONVERTED to a concrete Catalyst tree.
    * `ExpressionUtils.expression` returns a lazy `ColumnNodeExpression`
    * wrapper, which the Dataset API resolves but the SQL function-
    * registry path does not (an injected builder returning one analyzes
    * as VOID) — function builders must return the converted tree.
    */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a custom Expression builder as a SQL-callable function on a
    * live session (the runtime counterpart of
    * `SparkSessionExtensions.injectFunction`).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** `df` over its rows persisted MEMORY_AND_DISK: `localCheckpoint`
    * without the lineage cut (a lost block is recomputed, not an error),
    * and, unlike `Dataset.persist`, outside the CacheManager (freed once
    * unreachable; a later read of the same path never matches it).
    */
  def persistRows(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    val rows = ds.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
