package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.SystemColumns
import graft.functions.{AvroCursor, AvroReadPlan}
import graft.plans.OffsetRange

/** What a log reader ([[DecodingReaderFactory]]) runs on each raw Kafka
  * frame: the codec's `payload` decode straight into a reused row of
  * `columns`, whose malformed verdict the reader counts, then the scan's
  * offset window. The row's system columns are set from the frame and
  * constants; the codec fills only the user fields. Both codecs decode the
  * full record, so a payload is dropped as malformed whichever columns the
  * scan reads. Built on the driver and shipped in the reader factory.
  */
final case class FrameDecoder(payload: FrameDecoder.Payload, columns: StructType,
                              project: String, collection: String,
                              ranges: Seq[OffsetRange]) {
  /** A decoder for one reader. */
  def open(): FrameDecoder.Frames = new FrameDecoder.Frames(this)
}

object FrameDecoder {

  // the raw frame's columns (FakeKafka.frameSchema, Kafka's own)
  private val Value = 1
  private val Offset = 4

  /** One reader's decoder. Its rows are reused buffers, valid until the next
    * [[decode]], so it is not thread-safe.
    */
  final class Frames(d: FrameDecoder) {
    private val out = new SpecificInternalRow(d.columns.fields.map(_.dataType).toIndexedSeq)
    private val offsetAt = d.columns.fieldNames.indexOf(SystemColumns.Offset)
    for ((name, value) <- Seq(SystemColumns.Project -> d.project,
        SystemColumns.Collection -> d.collection)) {
      val i = d.columns.fieldNames.indexOf(name)
      if (i >= 0) out.update(i, UTF8String.fromString(value))
    }
    private val payload = d.payload.reader(out)
    private var offset = 0L

    /** Decodes `frame`; false when its payload is null or malformed. */
    def decode(frame: InternalRow): Boolean = {
      offset = frame.getLong(Offset)
      !frame.isNullAt(Value) && payload.read(frame.getBinary(Value))
    }

    /** The frame [[decode]] last accepted as a row of the scan's columns, or
      * null when it lies outside the scan's window.
      */
    def row(): InternalRow =
      if (!d.ranges.exists(_.contains(offset))) null
      else {
        if (offsetAt >= 0) out.setLong(offsetAt, offset)
        out
      }
  }

  /** A codec's decode of a payload into the user fields of the scan's row. */
  sealed trait Payload extends Serializable {
    /** One reader's decode into `out`. */
    def reader(out: InternalRow): PayloadReader
  }

  /** Writes a payload's fields into its reader's row; false when the payload
    * is malformed, which may leave the row partly written. Not thread-safe.
    */
  trait PayloadReader {
    def read(bytes: Array[Byte]): Boolean
  }

  /** Avro payloads decoded by `plan` into the row's fields. */
  final case class Avro(plan: AvroReadPlan) extends Payload {
    override def reader(out: InternalRow): PayloadReader = {
      val cursor = new AvroCursor
      plan.read(cursor, _, out)
    }
  }

  /** JSON payloads parsed by `parser`, Spark's own `from_json` evaluator, on
    * the payload cast to a string (invalid UTF-8 reads as U+FFFD). Its schema
    * is the user schema with a corrupt-record marker field at `corrupt`; a
    * payload is malformed when the parse is null or the marker is set.
    * Output column `i` takes parsed field `fields(i)` by reference (`-1` for
    * a system column).
    */
  final case class Json(parser: JsonToStructsEvaluator, corrupt: Int,
                        fields: Array[Int], types: Array[DataType]) extends Payload {
    override def reader(out: InternalRow): PayloadReader = {
      // the evaluator reuses its result row: each reader parses with its own
      val own = parser.copy()
      bytes => own.evaluate(UTF8String.fromBytes(bytes)) match {
        case parsed: InternalRow if parsed.isNullAt(corrupt) =>
          var i = 0
          while (i < fields.length) {
            if (fields(i) >= 0) out.update(i, parsed.get(fields(i), types(i)))
            i += 1
          }
          true
        case _ => false
      }
    }
  }
}
