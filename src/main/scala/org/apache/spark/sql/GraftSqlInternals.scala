package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow, clearly-scoped bridge to the `private[sql]` entry points the
  * MERGE INTO command and the Column helpers need: building a DataFrame
  * from a constructed LogicalPlan, and converting between a Column and
  * its Catalyst expression. Lives in Spark's package solely for access —
  * the same technique Spark connectors use for their command
  * implementations; no Spark internals are modified or shadowed.
  */
object GraftSqlInternals {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a Catalyst expression as a user-facing [[Column]] (the DELETE
    * command hands its parsed WHERE tree to `LakeTable.deleteWhereDV`,
    * whose public surface is Column-typed).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a [[Column]] (inverse of [[column]]). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Drop the session's cached catalog-plugin instances. Spark
    * instantiates a catalog once per name and caches it for the session
    * lifetime, so re-attaching the same catalog name with a DIFFERENT
    * root would otherwise keep serving the old root silently
    * ([[graft.tables.Catalog.attachSqlCatalog]] calls this after
    * setting the conf).
    */
  def resetCatalogCache(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager.reset()
}
