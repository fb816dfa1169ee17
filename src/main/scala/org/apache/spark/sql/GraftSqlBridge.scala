package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal access bridge for graft's custom logical operators:
  * `Dataset.ofRows` is `private[sql]`, so a library introducing its own
  * [[LogicalPlan]] node (see `graft.plans.AsOfJoinPlan`) needs one
  * package-local hop to wrap that plan as a user-facing [[DataFrame]].
  * This is the established pattern for Spark-native extension libraries;
  * nothing else in graft lives outside its own package.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable` (`private[spark]`): nullability relaxed at
    * every depth — struct fields, array elements, map values — exactly
    * as file-source reads relax an inferred or declared data schema.
    */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** A [[Column]] over a Catalyst expression (`ExpressionUtils.column`
    * is `private[sql]`) — how graft's own expressions enter a DataFrame.
    */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression of a [[Column]], converted the way
    * `Dataset.filter` converts it (UDFs included).
    */
  def expression(spark: SparkSession, c: Column): catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** True when a data-source scan could take `e` as a pushed filter
    * (`DataSourceStrategy.translateFilter` is `protected[sql]`).
    */
  def translatableFilter(e: catalyst.expressions.Expression): Boolean =
    execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true).isDefined
}

/** Second package-local hop, same rationale:
  * [[connector.catalog.V2TableWithV1Fallback]] — the analyzer's V1
  * streaming-read fallback hook (the mechanism `readStream.table` uses
  * to serve file-stream semantics for tables without a native
  * MicroBatchStream) — is `private[sql]`. Graft's catalog table extends
  * this re-export to ride it.
  */
trait GraftV1FallbackTable extends connector.catalog.V2TableWithV1Fallback
