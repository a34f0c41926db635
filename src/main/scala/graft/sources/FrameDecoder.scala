package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.SystemColumns
import graft.functions.{AvroCursor, AvroReadPlan}
import graft.plans.OffsetRange

/** What a log reader ([[DecodingReaderFactory]]) runs on each raw Kafka
  * frame: the payload decode, whose malformed verdict the reader counts,
  * then the scan's offset window and columns. Built on the driver and
  * shipped in the reader factory.
  */
trait FrameDecoder extends Serializable {
  /** A decoder for one reader. */
  def open(): FrameDecoder.Frames
}

object FrameDecoder {
  /** One reader's decoder. Its rows are reused buffers, valid until the next
    * [[decode]], so it is not thread-safe.
    */
  trait Frames {
    /** Decodes `frame`; false when its payload is malformed. */
    def decode(frame: InternalRow): Boolean

    /** The frame [[decode]] last accepted as a row of the scan's columns, or
      * null when it lies outside the scan's window.
      */
    def row(): InternalRow
  }

  // the raw frame's columns (FakeKafka.frameSchema, Kafka's own)
  private val Value = 1
  private val Offset = 4

  /** Avro payloads decoded by `plan` straight into the output row of
    * `columns`, whose system columns are set from the frame and constants.
    * The plan reads the full writer record, so a payload is dropped as
    * malformed whichever columns the scan reads.
    */
  final case class Avro(plan: AvroReadPlan, columns: StructType,
                        project: String, collection: String,
                        ranges: Seq[OffsetRange]) extends FrameDecoder {

    override def open(): Frames = new Frames {
      private val out = new SpecificInternalRow(columns.fields.map(_.dataType).toIndexedSeq)
      private val offsetAt = columns.fieldNames.indexOf(SystemColumns.Offset)
      for ((name, value) <- Seq(SystemColumns.Project -> project,
          SystemColumns.Collection -> collection)) {
        val i = columns.fieldNames.indexOf(name)
        if (i >= 0) out.update(i, UTF8String.fromString(value))
      }
      private val cursor = new AvroCursor
      private var offset = 0L

      override def decode(frame: InternalRow): Boolean = {
        offset = frame.getLong(Offset)
        !frame.isNullAt(Value) && plan.read(cursor, frame.getBinary(Value), out)
      }

      override def row(): InternalRow =
        if (!ranges.exists(_.contains(offset))) null
        else {
          if (offsetAt >= 0) out.setLong(offsetAt, offset)
          out
        }
    }
  }
}
