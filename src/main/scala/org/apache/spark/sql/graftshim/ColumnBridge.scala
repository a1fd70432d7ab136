package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's private[sql] Column↔Expression conversion (Spark 4
  * hides Column.expr behind the connect-compatible ColumnNode API). Lives in
  * the org.apache.spark.sql package solely to satisfy the access modifier —
  * same technique used by every third-party Catalyst extension library.
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column's ColumnNode AST to a PUBLIC Catalyst tree
    * (UnresolvedAttribute / UnresolvedFunction / Literal nodes) — unlike
    * `expression`, which returns a lazy ColumnNodeExpression wrapper whose
    * children are invisible until analysis. Lets code outside this package
    * pattern-match predicates structurally (e.g. storage-handler predicate
    * decomposition) without touching private[sql] ColumnNode types. */
  def converted(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Bridge to private[sql] Dataset.ofRows — build a DataFrame from a custom
    * LogicalPlan (our injected strategy plans it). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over Catalyst rows of `schema` (private[sql]
    * `internalCreateDataFrame`): an RDD an executed plan produced, read
    * as it is. */
  def ofRdd(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** `schema` as a file-source read reports it: every field, element and
    * value nullable (private[spark] `StructType.asNullable`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The analyzed logical plan of a DataFrame (private[sql] in Spark 4). */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Decode a catalog column-stat bound (stored as an external string) into
    * its Catalyst-internal value (private[sql] CatalogColumnStat API). */
  def colStatInternal(externalValue: String, colName: String,
      dataType: org.apache.spark.sql.types.DataType, version: Int): Any =
    org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
      .fromExternalString(externalValue, colName, dataType, version)
}
