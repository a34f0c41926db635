package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.GraftFileTable

/** Resolve a file-backed collection ([[GraftFileTable]]) to what it is: the
  * source's own analyzed read, under a Project that re-binds the
  * relation's attribute ids onto the read's output, so the rest of the
  * query keeps resolving. The query is then optimized once, as a whole:
  * Catalyst pushes the `_offset` predicate through the system-column alias
  * into the native file scan (`PushedFilters` on the offset stand-in
  * column), column pruning reaches the reader schema, and AQE plans the
  * whole tree.
  *
  * A Resolution-batch rule, so `DeduplicateRelations` sees the inlined
  * reads: the two sides of a self-join share one cached source plan and get
  * fresh attribute ids like any other repeated relation.
  */
case class ResolveFileTables(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case rel: DataSourceV2Relation if rel.table.isInstanceOf[GraftFileTable] =>
      val read = rel.table.asInstanceOf[GraftFileTable].read(session).queryExecution.analyzed
      val byName = read.output.map(a => a.name -> a).toMap
      // types line up (both sides derive from the collection's schema); the
      // Cast covers a metastore type mapping that widens a column
      val projectList: Seq[NamedExpression] = rel.output.map { a =>
        val src = byName(a.name)
        val e = if (src.dataType == a.dataType) src else Cast(src, a.dataType)
        Alias(e, a.name)(exprId = a.exprId, qualifier = a.qualifier)
      }
      Project(projectList, read)
  }
}
