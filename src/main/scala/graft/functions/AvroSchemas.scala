package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.spark.sql.types._

/** Avro ↔ Spark schema mapping for the reference's wire-type lattice
  * (reference `PageDatumReader.java:123-166`): UNION-with-null (how Rakam
  * encodes nullable fields), STRING, LONG, INT, FLOAT, DOUBLE, BOOLEAN,
  * ENUM (as string), BYTES, NULL — plus the composites the reference
  * rejected (`PageDatumReader.java:156-160` threw; ARRAY was intended but
  * commented out, `KafkaMetadata.java:190-191`): ARRAY → Spark array,
  * RECORD → Spark struct (any nesting depth), MAP (string keys, Avro's
  * only key type) → Spark map. FIXED stays unsupported.
  */
object AvroSchemas {

  /** Avro record schema → Spark StructType. */
  def toSpark(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD, s"top-level schema must be a record: $schema")
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = fieldType(f.schema())
      StructField(f.name(), dt, nullable)
    })
  }

  private def fieldType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala
      val nonNull = branches.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1, s"only unions of [null, T] are supported: $s")
      (fieldType(nonNull.head)._1, branches.size > nonNull.size)
    case Schema.Type.STRING => (StringType, false)
    case Schema.Type.LONG => (LongType, false)
    case Schema.Type.INT => (IntegerType, false)
    case Schema.Type.FLOAT => (FloatType, false)
    case Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.ENUM => (StringType, false)
    case Schema.Type.BYTES => (BinaryType, false)
    case Schema.Type.ARRAY =>
      val (et, en) = fieldType(s.getElementType)
      (ArrayType(et, containsNull = en), false)
    case Schema.Type.RECORD =>
      (StructType(s.getFields.asScala.toSeq.map { f =>
        val (dt, n) = fieldType(f.schema())
        StructField(f.name(), dt, n)
      }), false)
    case Schema.Type.MAP =>
      val (vt, vn) = fieldType(s.getValueType)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case other =>
      // FIXED etc.: beyond even the extended lattice
      throw new UnsupportedOperationException(s"avro type not supported: $other")
  }

  /** Spark StructType → Avro record schema; nullable fields become
    * `union[null, T]` with null default, matching Rakam's encoding.
    */
  def toAvro(st: StructType, name: String = "event"): Schema = {
    val fields = st.fields.toSeq.map { f =>
      val base = avroOf(f.dataType, s"${name}_${f.name}")
      val s = if (f.nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base) else base
      val default: Object = if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null
      new Schema.Field(f.name, s, null, default)
    }
    Schema.createRecord(name, null, "graft", false, fields.asJava)
  }

  // `name` threads the field path down so nested record schemas get unique
  // full names (Avro requires record names be unique within a schema)
  private def avroOf(dt: DataType, name: String): Schema = dt match {
    case StringType => Schema.create(Schema.Type.STRING)
    case LongType => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case ArrayType(et, _) => Schema.createArray(avroOf(et, s"${name}_elem"))
    case st: StructType => toAvro(st, name)
    case MapType(StringType, vt, _) => Schema.createMap(avroOf(vt, s"${name}_value"))
    case other =>
      throw new UnsupportedOperationException(s"cannot map ${other.sql} to avro")
  }

  /** Reader schema projected to `names` (in writer field order) — the C6/O2
    * projection pushdown unit: the [[AvroReadPlan]] byte-skips every field not
    * in the reader schema (reference `KafkaConnectorPageSource.java:91-105`,
    * skip logic `PageDatumReader.java:210-271`).
    */
  def project(writer: Schema, names: Seq[String]): Schema = {
    val keep = names.toSet
    val fields = writer.getFields.asScala.toSeq
      .filter(f => keep(f.name()))
      .map(copyField(_))
    Schema.createRecord(writer.getName, writer.getDoc, writer.getNamespace, false, fields.asJava)
  }

  /** Reader schema projected to ONE top-level field whose nested record is
    * itself projected to ONE inner field — the nested-field pruning unit:
    * `e.meta.x` decodes only `meta.x`, byte-skipping sibling top-level
    * fields AND `meta`'s sibling fields. A `union[null, record]` wrapper
    * (nullable nested field) is preserved around the pruned record.
    */
  def projectNestedField(reader: Schema, outerName: String, innerName: String): Schema = {
    val f = reader.getField(outerName)
    val (rec, nullable) = unwrapNullable(f.schema())
    require(rec.getType == Schema.Type.RECORD, s"field $outerName is not a record: $rec")
    val prunedRec = project(rec, Seq(innerName))
    val ns = if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), prunedRec)
             else prunedRec
    val nf = copyField(f, Some(ns))
    Schema.createRecord(reader.getName, reader.getDoc, reader.getNamespace, false,
      Seq(nf).asJava)
  }

  /** The non-null branch of a `union[null, T]` (or the schema itself). */
  def unwrapNullable(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val nonNull = s.getTypes.asScala.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1, s"only unions of [null, T] are supported: $s")
      (nonNull.head, s.getTypes.size() > 1)
    } else (s, false)

  private def copyField(f: Schema.Field, newSchema: Option[Schema] = None): Schema.Field = {
    val nf = new Schema.Field(f.name(), newSchema.getOrElse(f.schema()), f.doc(), f.defaultVal())
    // preserve aliases — rename-based schema resolution
    // (Schema.applyAliases) must survive reader pruning
    f.aliases().forEach(a => nf.addAlias(a))
    nf
  }
}
