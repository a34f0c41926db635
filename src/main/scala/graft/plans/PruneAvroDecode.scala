package graft.plans

import scala.collection.mutable

import org.apache.avro.Schema
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{AvroDecode, AvroSchemas}

/** Projection pushdown into the Avro decoder (reference O2): when a decoded
  * struct `e = avro_decode(value)` is only ever accessed through
  * `e.field` extractions, shrink the decoder's *reader schema* to exactly
  * those fields. Its [[graft.functions.AvroReadPlan]] then byte-skips everything else — the
  * reference's behavior of building an expected schema containing only the
  * queried columns (`KafkaConnectorPageSource.java:91-105`, skip logic
  * `PageDatumReader.java:210-271`).
  *
  * Catalyst's own column pruning stops at the struct boundary (the decode
  * is one opaque expression producing a struct); this rule carries the
  * pruning across it. Idempotent: once the reader equals the used set,
  * nothing matches. Log scans decode at the reader with their own column
  * set, so this rule serves the `from_avro` calls users write.
  */
object PruneAvroDecode extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    pruneCollapsed(pruneAcrossProjects(plan))

  /** After CollapseProject the access pattern is a direct
    * `GetStructField(avro_decode(...), ord)` — prune each occurrence to a
    * single-field reader (skipping is near-free, so per-occurrence decoders
    * beat one wide decode). A NESTED access
    * `GetStructField(GetStructField(decode, ord), iord)` — `e.meta.x` —
    * prunes one level deeper: the reader keeps one top-level field whose
    * record keeps one inner field, so the decoder byte-skips the outer
    * siblings AND `meta`'s sibling fields (the nested analogue of the
    * reference's queried-columns-only reader,
    * `KafkaConnectorPageSource.java:91-105`).
    */
  private def pruneCollapsed(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // nested case first: the outer extraction is visited before its child
      case GetStructField(GetStructField(d: AvroDecode, ord, oname), iord, iname)
          if nestedFieldCount(d, ord).exists(c =>
            c > 1 || new Schema.Parser().parse(d.readerSchemaJson).getFields.size() > 1) =>
        val reader = new Schema.Parser().parse(d.readerSchemaJson)
        val outer = reader.getFields.get(ord)
        val (rec, _) = AvroSchemas.unwrapNullable(outer.schema())
        val innerName = rec.getFields.get(iord).name()
        val pruned = AvroSchemas.projectNestedField(reader, outer.name(), innerName)
        GetStructField(
          GetStructField(d.copy(readerSchemaJson = pruned.toString), 0,
            oname.orElse(Some(outer.name()))),
          0, iname.orElse(Some(innerName)))
      case GetStructField(d: AvroDecode, ord, nameOpt)
          if new Schema.Parser().parse(d.readerSchemaJson).getFields.size() > 1 =>
        val reader = new Schema.Parser().parse(d.readerSchemaJson)
        val name = reader.getFields.get(ord).name()
        val pruned = AvroSchemas.project(reader, Seq(name))
        GetStructField(d.copy(readerSchemaJson = pruned.toString), 0, nameOpt.orElse(Some(name)))
    }

  /** Field count of the record behind reader field `ord`, if it IS a
    * record (unwrapping a nullable union); None for non-record fields.
    */
  private def nestedFieldCount(d: AvroDecode, ord: Int): Option[Int] =
    try {
      val reader = new Schema.Parser().parse(d.readerSchemaJson)
      if (ord >= reader.getFields.size()) None
      else {
        val (s, _) = AvroSchemas.unwrapNullable(reader.getFields.get(ord).schema())
        if (s.getType == Schema.Type.RECORD) Some(s.getFields.size()) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Pre-collapse form: `Project(... e.f ...) over Project(e = decode(...))`
    * (kept by CollapseProject when the alias is referenced more than once).
    * Prunes the reader to the union of referenced fields.
    */
  private def pruneAcrossProjects(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case outer @ Project(outerList, inner @ Project(innerList, _)) =>
      val decodes: Map[ExprId, AvroDecode] = innerList.collect {
        case a @ Alias(d: AvroDecode, _) => a.exprId -> d
      }.toMap
      if (decodes.isEmpty) outer
      else {
        val used = mutable.Map.empty[ExprId, mutable.SortedSet[Int]]
        val whole = mutable.Set.empty[ExprId]
        def visit(e: Expression): Unit = e match {
          case GetStructField(a: AttributeReference, ord, _) if decodes.contains(a.exprId) =>
            used.getOrElseUpdate(a.exprId, mutable.SortedSet.empty) += ord
          case a: AttributeReference if decodes.contains(a.exprId) => whole += a.exprId
          case other => other.children.foreach(visit)
        }
        outerList.foreach(visit)

        // prunable: accessed only via field extraction, with a strict subset
        val pruned = used.view.filterKeys(id => !whole.contains(id)).flatMap {
          case (id, ords) =>
            val d = decodes(id)
            val reader = new Schema.Parser().parse(d.readerSchemaJson)
            if (ords.size == reader.getFields.size()) None
            else {
              val names = ords.toSeq.map(o => reader.getFields.get(o).name())
              val newReader = AvroSchemas.project(reader, names)
              val ordMap = ords.toSeq.zipWithIndex.toMap
              Some(id -> ((d.copy(readerSchemaJson = newReader.toString), ordMap)))
            }
        }.toMap

        if (pruned.isEmpty) outer
        else {
          val newInner = innerList.map {
            case a @ Alias(_: AvroDecode, name) if pruned.contains(a.exprId) =>
              Alias(pruned(a.exprId)._1, name)(exprId = a.exprId, qualifier = a.qualifier)
            case other => other
          }
          val newAttrType = pruned.map { case (id, (d, _)) => id -> d.dataType }
          def rewrite(e: Expression): Expression = e match {
            case gsf @ GetStructField(a: AttributeReference, ord, nameOpt)
                if pruned.contains(a.exprId) =>
              val (_, ordMap) = pruned(a.exprId)
              GetStructField(a.withDataType(newAttrType(a.exprId)), ordMap(ord), nameOpt)
            case other => other.mapChildren(rewrite)
          }
          Project(outerList.map(ne => rewrite(ne).asInstanceOf[NamedExpression]),
            Project(newInner, inner.child))
        }
      }
  }
}
