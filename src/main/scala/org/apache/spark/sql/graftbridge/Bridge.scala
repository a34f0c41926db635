package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.catalog.{CatalogV2Util, Table}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal bridge into `private[sql]` Spark 4 internals: wrap a raw Catalyst
  * [[Expression]] as a user-facing [[Column]] and back, build a DataFrame
  * over a DSv2 table, and relax a schema's nullability. Spark 4 routes
  * `Column` through `ColumnNode`s, so `new Column(expr)` no longer exists;
  * `ExpressionUtils` is the blessed internal path.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `t` with every field, element and value nullable, as `from_json` parses. */
  def asNullable(t: StructType): StructType = t.asNullable

  /** A DataFrame reading `table` as a batch: the relation
    * `spark.read.table` resolves a catalog table to, with no catalog.
    */
  def batchFrame(spark: SparkSession, table: Table): DataFrame =
    ofRows(spark, DataSourceV2Relation.create(table, None, None))

  /** A DataFrame reading `table` as a micro-batch stream: the relation of
    * `spark.readStream.table`, with no catalog.
    */
  def streamFrame(spark: SparkSession, table: Table): DataFrame =
    ofRows(spark, StreamingRelationV2(None, table.name(), table, CaseInsensitiveStringMap.empty(),
      DataTypeUtils.toAttributes(CatalogV2Util.v2ColumnsToStructType(table.columns())),
      None, None, None))

  private def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
