package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin bridge into private[sql] APIs (Spark 4 moved Column<->Expression
  * conversion behind org.apache.spark.sql.classic.ExpressionUtils and split
  * SparkSession into an interface + classic impl). Mirrors the technique the
  * reference uses in its own SparkSQLBridge
  * (reference: spark/spark-common/src/main/scala/org/apache/spark/sql/SparkSQLBridge.scala:34-74).
  */
object GraftSQLBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** Dataset.ofRows is private[sql]; commands and the USL scan need to turn
    * hand-built logical plans into DataFrames
    * (reference: SparkSQLBridge.scala:70-72).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(spark), plan)

  def structTypeToV2Columns(schema: types.StructType): Array[connector.catalog.Column] =
    connector.catalog.CatalogV2Util.structTypeToV2Columns(schema)

  def v2ColumnsToStructType(columns: Array[connector.catalog.Column]): types.StructType =
    connector.catalog.CatalogV2Util.v2ColumnsToStructType(columns)

  /** Drop cached catalog instances so a changed
    * `spark.sql.catalog.<name>.warehouse` takes effect on a live session.
    */
  def resetCatalogManager(spark: SparkSession): Unit =
    classicSession(spark).sessionState.catalogManager.reset()

  /** Resolve a multipart name through the session's v2 catalog manager to
    * the live Table instance (commands that need the TABLE, not a scan).
    */
  def loadV2Table(spark: SparkSession, parts: Seq[String]): connector.catalog.Table = {
    require(parts.size >= 2, s"need catalog.ns....table, got ${parts.mkString(".")}")
    val cat = classicSession(spark).sessionState.catalogManager.catalog(parts.head)
    cat.asInstanceOf[connector.catalog.TableCatalog]
      .loadTable(connector.catalog.Identifier.of(parts.tail.init.toArray, parts.last))
  }

  /** Block until every listener event posted so far has been delivered, so
    * a caller reads complete job records without sleeping.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
