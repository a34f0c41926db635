package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.GraftLogTable

/** Inline a file-backed [[GraftLogTable]]'s read as a native part of the
  * query plan, replacing the DSv2 relation (and with it the `V1Scan` RDD
  * bridge, [[graft.catalog.GraftFileScan]], the table's ScanBuilder would
  * otherwise execute through). Tables over an offset-addressed source
  * (Kafka) are left alone: their [[graft.catalog.GraftLogScan]] is already
  * a native DSv2 batch scan.
  *
  * Why: the bridge compiles the inner DataFrame to an `RDD[Row]`, so
  * everything above it loses whole-stage-codegen fusion with the scan and
  * pays an InternalRow→Row→InternalRow conversion per row. At fixture scale
  * that is noise; at 100 TB it is a per-row tax on every log query. With
  * the inner LOGICAL plan spliced in instead, the file scan (parquet/ORC/
  * JSON/CSV) is planned natively: Catalyst pushes the `_offset` predicate
  * through the system-column alias into the file scan (`PushedFilters` on
  * the offset stand-in column), column pruning reaches the reader schema,
  * and AQE plans the whole tree.
  *
  * Runs as a PRE-CBO rule, which in Spark 4 sits AFTER the operator
  * optimization batches (filters are settled directly above the relation —
  * the offset window is extractable) but BEFORE `V2ScanRelationPushDown`
  * (the relation is still a [[DataSourceV2Relation]]). The rule therefore
  * does its own range extraction — [[OffsetRangePlanner.fromExpression]]
  * over the already-analyzed filter condition, the same translator the
  * ScanBuilder's `pushFilters` uses — and keeps the full predicate as a
  * residual, preserving the planner's sound over-approximation contract.
  * Dead columns of the spliced projection are erased by the optimizer's
  * final RewriteSubquery batch (ColumnPruning + CollapseProject re-run
  * after Pre CBO), so file scans still read only referenced columns.
  *
  * The inner plan is optimized as a detached subtree first (the
  * OptimizeSubqueries re-entrancy pattern), then spliced under a Project
  * that re-binds the relation's attribute ids onto the inner output. The
  * `V1Scan` bridge remains the fallback for sessions that registered the
  * catalog without [[graft.GraftExtensions]].
  */
case class InlineLogScan(session: SparkSession) extends Rule[LogicalPlan] {

  // transformDown so Filter(cond, relation) wins over the bare-relation
  // case (transformUp would inline the child first and lose the window)
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Filter(cond, rel: DataSourceV2Relation) if isLogTable(rel) =>
      inline(rel, OffsetRangePlanner.fromExpression(cond))
        .map(Filter(cond, _)).getOrElse(Filter(cond, rel))
    case rel: DataSourceV2Relation if isLogTable(rel) =>
      inline(rel, OffsetRangePlanner.Full).getOrElse(rel)
  }

  private def isLogTable(rel: DataSourceV2Relation): Boolean = rel.table match {
    case t: GraftLogTable => !t.offsetAddressed
    case _ => false
  }

  /** The relation's read as an optimized detached plan, output re-bound to
    * the relation's exprIds. `None` = leave the relation alone (the V1
    * bridge still executes it correctly) — inlining is an optimization and
    * must never be the thing that fails a query.
    */
  private def inline(rel: DataSourceV2Relation, ranges: Seq[OffsetRange]): Option[LogicalPlan] =
    try {
      val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val table = rel.table.asInstanceOf[GraftLogTable]
      val inner = spark.sessionState.optimizer.execute(
        table.innerFrame(spark, ranges).queryExecution.analyzed)
      val byName = inner.output.map(a => a.name -> a).toMap
      // re-bind the relation's exprIds so parents keep resolving; types
      // already line up (both sides derive from the same collection
      // schema) — the Cast is belt-and-braces for type-map widenings
      val projectList: Seq[NamedExpression] = rel.output.map { a =>
        val src = byName(a.name)
        val e = if (src.dataType == a.dataType) src else Cast(src, a.dataType)
        Alias(e, a.name)(exprId = a.exprId, qualifier = a.qualifier)
      }
      Some(Project(projectList, inner))
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"InlineLogScan fell back to the V1 bridge for ${rel.name}: $e")
        None
    }
}
