package graft.catalog

import java.util.Locale

import org.apache.spark.sql.types._

/** Rakam-style logical field types, mapped to Spark SQL types.
  *
  * Parity: the reference's type lattice in `schemaToPrestoType`
  * (reference `KafkaMetadata.java:177-197`): STRING→VARCHAR, LONG→BIGINT,
  * DOUBLE, BOOLEAN, DATE, TIME. ARRAY was commented out in the reference
  * (`KafkaMetadata.java:190-191`) but clearly intended — the rebuild enables
  * it (plus MAP) since Spark supports them natively. TIME has no direct
  * Spark type (SURVEY.md §1.3); it is represented as millis-of-day LONG.
  * Unknown types raise [[UnsupportedFieldTypeException]], mirroring the
  * reference's `PrestoException(AVRO_TYPE_NOT_SUPPORTED)`
  * (`KafkaMetadata.java:195`, `KafkaErrorCode.java:31`).
  */
sealed abstract class FieldType(val sparkType: DataType) extends Serializable

object FieldType {
  case object STRING    extends FieldType(StringType)
  case object INTEGER   extends FieldType(IntegerType)
  case object LONG      extends FieldType(LongType)
  case object FLOAT     extends FieldType(FloatType)
  case object DOUBLE    extends FieldType(DoubleType)
  case object BOOLEAN   extends FieldType(BooleanType)
  case object DATE      extends FieldType(DateType)
  case object TIMESTAMP extends FieldType(TimestampType)
  /** Session-timezone-free timestamp (Spark 4 reads parquet TIMESTAMP with
    * isAdjustedToUTC=false as NTZ; the reference test loader serialized
    * timestamps as ISO-8601 strings, `KafkaLoader.java:141-146`).
    */
  case object TIMESTAMP_NTZ extends FieldType(TimestampNTZType)
  /** Millis-of-day. No direct Spark equivalent; catalog-level decision per SURVEY.md §1.3. */
  case object TIME      extends FieldType(LongType)
  case object BINARY    extends FieldType(BinaryType)
  final case class ARRAY(elem: FieldType)
      extends FieldType(ArrayType(elem.sparkType, containsNull = true))
  final case class MAP(value: FieldType)
      extends FieldType(MapType(StringType, value.sparkType, valueContainsNull = true))

  /** Inverse mapping used when deriving a metastore schema from an existing
    * physical source (e.g. parquet fixtures). TIME is unrecoverable from
    * LongType (maps back to LONG) — acceptable: TIME is write-side metadata.
    */
  def fromSpark(dt: DataType): FieldType = dt match {
    case StringType               => STRING
    case IntegerType | ShortType | ByteType => INTEGER
    case LongType                 => LONG
    case FloatType                => FLOAT
    case DoubleType               => DOUBLE
    case BooleanType              => BOOLEAN
    case DateType                 => DATE
    case TimestampType            => TIMESTAMP
    case TimestampNTZType         => TIMESTAMP_NTZ
    case BinaryType               => BINARY
    case ArrayType(e, _)          => ARRAY(fromSpark(e))
    case MapType(StringType, v, _) => MAP(fromSpark(v))
    case other => throw new UnsupportedFieldTypeException(other.sql)
  }
}

/** Mirrors the reference's `PrestoException(AVRO_TYPE_NOT_SUPPORTED)`. */
final class UnsupportedFieldTypeException(what: String)
    extends RuntimeException(s"Unsupported field type: $what")

/** One column of a collection, as stored in the metastore.
  *
  * Field names are lowercased on the way out of the metastore, matching
  * reference `KafkaMetadata.java:171`
  * (`field.getName().toLowerCase(Locale.ENGLISH)`).
  */
final case class SchemaField(name: String, ftype: FieldType, nullable: Boolean = true) {
  def normalizedName: String = name.toLowerCase(Locale.ENGLISH)
  def toStructField: StructField = StructField(normalizedName, ftype.sparkType, nullable)
}

object SchemaField {
  def fromStructType(st: StructType): Seq[SchemaField] =
    st.fields.toSeq.map(f => SchemaField(f.name, FieldType.fromSpark(f.dataType), f.nullable))

  /** The durable metastores' stored form: the Spark DDL-JSON of the user schema. */
  def toJson(fields: Seq[SchemaField]): String = StructType(fields.map(_.toStructField)).json

  def fromJson(json: String): Seq[SchemaField] =
    fromStructType(DataType.fromJson(json).asInstanceOf[StructType])
}

/** The three hidden system columns every event table carries.
  *
  * Parity: reference `KafkaMetadata.java:155-175` — `_offset` BIGINT (Kafka
  * message offset), `project` / `collection` VARCHAR partition keys derived
  * from the topic name `"<project>_<collection>"`
  * (`KafkaSplitManager.java:107`). All three are hidden: excluded from the
  * default (`SELECT *`) projection; Spark has no hidden-column bit, so the
  * catalog layer drops them from `GraftEngine.table` and exposes them via
  * `tableWithSystemColumns` (SURVEY.md §1.2).
  */
object SystemColumns {
  val Offset     = "_offset"
  val Project    = "project"
  val Collection = "collection"

  val names: Set[String] = Set(Offset, Project, Collection)

  val fields: Seq[StructField] = Seq(
    StructField(Offset, LongType, nullable = false),
    StructField(Project, StringType, nullable = false),
    StructField(Collection, StringType, nullable = false))

  /** Kafka topic naming, parity with `KafkaSplitManager.java:107`. */
  def topicFor(project: String, collection: String): String = s"${project}_$collection"

  /** Inverse: every (project, collection) that [[topicFor]] maps to `topic`,
    * one per underscore. The reference split on the first underscore only
    * (`KafkaConnectorPageSource.java:88-89`, `split("_", 2)`), which misreads
    * a project name that holds one.
    */
  def topicSplits(topic: String): Seq[(String, String)] =
    (1 until topic.length - 1).filter(topic(_) == '_').map(i => (topic.take(i), topic.drop(i + 1)))
}
