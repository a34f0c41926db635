package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, BasePredicate, BindReferences, Expression, InterpretedMutableProjection, InterpretedPredicate, NamedExpression, Projection}
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, PushPredicateThroughNonJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}

/** A Project/Filter-only DataFrame transformation compiled down to a
  * per-[[InternalRow]] function — the bridge that lets a DSv2 reader run
  * Catalyst decode expressions declared once as `Column`s
  * ([[KafkaEventSource.decodeRaw]]) without restating them row by row.
  *
  * Why this exists: a DSv2 log scan must produce decoded [[InternalRow]]s
  * at the reader (the table's declared schema is the DECODED shape), but
  * the decode logic (`from_json`, malformed-row drop, system-column
  * synthesis) is authored once at the DataFrame layer. Re-implementing it
  * row-wise by hand would fork the semantics; instead the driver ANALYZES
  * the DataFrame transformation over a dummy relation and ships the
  * resolved Project/Filter chain to executors ([[Eval]]). Per-row cost is
  * therefore the expression cost — no Row boxing, no UDF.
  *
  * A scan's [[pipeline]] extends the analyzed decode plan with the scan's
  * window residual and column projection, built straight from Catalyst
  * expressions, so planning a query analyzes nothing.
  *
  * Scale: the pipeline is stateless and compiled once per reader; readers
  * stream rows through reused buffers (the DSv2 reader contract: a row is
  * valid until the next `next()`), so a 1000-executor scan pays only the
  * expression evaluation itself.
  *
  * It serves the JSON codec only: Avro payloads decode straight into the
  * scan's output row through a [[graft.functions.AvroReadPlan]]
  * ([[FrameDecoder.Avro]]), with no projection stages in between.
  */
object RowPipeline {

  /** One resolved stage; `input` is the child operator's output the stage's
    * expressions are bound against. Catalyst expressions are serializable,
    * so stages ship inside the reader factory task closure.
    */
  sealed trait Stage extends Serializable
  final case class ProjectStage(exprs: Seq[NamedExpression], input: Seq[Attribute]) extends Stage
  final case class FilterStage(cond: Expression, input: Seq[Attribute]) extends Stage

  /** `decode` turns a raw frame into a row or drops it as malformed; `select`
    * then drops rows outside the scan's window and projects the columns the
    * scan reads. Kept apart so readers can count malformed rows.
    */
  final case class Pipeline(decode: Seq[Stage], select: Seq[Stage]) extends FrameDecoder {
    override def open(): FrameDecoder.Frames = new Frames(new Eval(decode), new Eval(select))
  }

  private final class Frames(decoded: Eval, selected: Eval) extends FrameDecoder.Frames {
    private var current: InternalRow = _
    override def decode(frame: InternalRow): Boolean = {
      current = decoded(frame)
      current != null
    }
    override def row(): InternalRow = selected(current)
  }

  /** `df`'s ANALYZED plan, which must be a Project/Filter chain over a single
    * leaf — exactly what a decode transformation is. The analyzed (not
    * optimized) plan is used deliberately: the optimizer would constant-fold
    * a transformation over an empty dummy relation away entirely. The one
    * analyzer artifact that is not directly evaluable — `UpdateFields` from
    * `Column.dropFields` (the JSON codec's corrupt-marker strip) — is
    * rewritten by its two dedicated optimizer rules, which never touch the
    * relation itself.
    */
  def analyzed(df: DataFrame): LogicalPlan = {
    import org.apache.spark.sql.catalyst.optimizer.{OptimizeUpdateFields, ReplaceUpdateFieldsExpression}
    ReplaceUpdateFieldsExpression(OptimizeUpdateFields(df.queryExecution.analyzed))
  }

  private def stages(plan: LogicalPlan): Seq[Stage] = plan match {
    case Project(exprs, child) => stages(child) :+ ProjectStage(exprs, child.output)
    case Filter(cond, child) => stages(child) :+ FilterStage(cond, child.output)
    case _: LeafNode => Nil
    case other => throw new IllegalArgumentException(
      s"RowPipeline supports Project/Filter chains only, got ${other.nodeName}")
  }

  /** `decode` (an [[analyzed]] plan whose first filter is its malformed-row
    * verdict) extended by the rows passing `cond` (built over
    * `decode.output`) and the projection to `columns` by name. `cond` is
    * pushed below decode's last projection, which then collapses into the
    * column projection.
    */
  def pipeline(decode: LogicalPlan, cond: Option[Expression], columns: Seq[String]): Pipeline = {
    val byName = decode.output.map(a => a.name -> a).toMap
    // one level only: pushed further, the verdict filter would decode on
    // its own, apart from the projection
    val windowed = cond.fold(decode)(c =>
      PushPredicateThroughNonJoin.applyLocally.applyOrElse(Filter(c, decode), identity[LogicalPlan]))
    val all = stages(CollapseProject(Project(columns.map(byName), windowed)))
    val verdict = all.indexWhere(_.isInstanceOf[FilterStage]) + 1
    Pipeline(all.take(verdict), all.drop(verdict))
  }

  /** Executor-side evaluator: apply every stage in order; `null` = row
    * dropped by a filter stage. Not thread-safe (projection buffers are
    * reused) — create one per reader.
    *
    * Stages are interpreted, not code-generated: generating a projection
    * costs each reader (one per task) milliseconds, more than interpreting
    * a few expressions costs over a split's rows. Spark's interpreted
    * projection evaluates a repeated subexpression (the JSON codec's
    * `from_json`) once per row, but it does not hand values on by
    * reference: it writes each one through `InternalRow.getWriter`, which
    * copies every string (`UTF8String.copy`) and struct (`InternalRow.copy`)
    * a stage outputs. Rows leave as generic rows, which Spark's planner
    * turns into UnsafeRows above every row-based DSv2 scan.
    */
  final class Eval(stages: Seq[Stage]) {
    private val steps: Array[Either[Projection, BasePredicate]] =
      stages.map {
        case ProjectStage(exprs, input) =>
          val bound = BindReferences.bindReferences(exprs, AttributeSeq.fromNormalOutput(input))
          Left(new InterpretedMutableProjection(bound.toIndexedSeq))
        case FilterStage(cond, input) =>
          Right(InterpretedPredicate(
            BindReferences.bindReference(cond, AttributeSeq.fromNormalOutput(input))))
      }.toArray
    steps.foreach {
      case Left(p) => p.initialize(0)
      case Right(p) => p.initialize(0)
    }

    def apply(row: InternalRow): InternalRow = {
      var cur = row
      var i = 0
      while (i < steps.length) {
        steps(i) match {
          case Left(project) => cur = project(cur)
          case Right(predicate) => if (!predicate.eval(cur)) return null
        }
        i += 1
      }
      cur
    }
  }
}
