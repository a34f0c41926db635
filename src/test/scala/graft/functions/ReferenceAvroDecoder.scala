package graft.functions

import org.apache.avro.Schema
import org.apache.avro.io.{BinaryDecoder, DecoderFactory, ResolvingDecoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The Avro decode [[AvroReadPlan]] replaced, kept as the reference its
  * property test compares against: Avro's own `ResolvingDecoder` over the
  * aliased writer and the reader schema, walked recursively into Catalyst
  * values. A payload is malformed (null) when the decoder throws one of the
  * four exception types caught here.
  */
final class ReferenceAvroDecoder(writerSchema: Schema, readerSchema: Schema) {

  private var binaryDecoder: BinaryDecoder = _
  private var resolver: ResolvingDecoder = _

  /** The decoded record, or null when `bytes` is malformed. */
  def decode(bytes: Array[Byte]): InternalRow =
    try {
      binaryDecoder = DecoderFactory.get().binaryDecoder(bytes, binaryDecoder)
      if (resolver == null) {
        resolver = DecoderFactory.get().resolvingDecoder(
          Schema.applyAliases(writerSchema, readerSchema), readerSchema, binaryDecoder)
      } else {
        resolver.configure(binaryDecoder)
      }
      val row = read(readerSchema)
      resolver.drain()
      row.asInstanceOf[InternalRow]
    } catch {
      case _: java.io.IOException | _: org.apache.avro.AvroRuntimeException |
          _: IndexOutOfBoundsException | _: IllegalArgumentException =>
        resolver = null // mid-stream failure leaves the decoder unusable
        null
    }

  private def read(s: Schema): Any = s.getType match {
    case Schema.Type.UNION =>
      read(s.getTypes.get(resolver.readIndex()))
    case Schema.Type.NULL => resolver.readNull(); null
    case Schema.Type.STRING =>
      val u = resolver.readString(null)
      UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
    case Schema.Type.LONG => resolver.readLong()
    case Schema.Type.INT => resolver.readInt()
    case Schema.Type.FLOAT => resolver.readFloat()
    case Schema.Type.DOUBLE => resolver.readDouble()
    case Schema.Type.BOOLEAN => resolver.readBoolean()
    case Schema.Type.ENUM =>
      UTF8String.fromString(s.getEnumSymbols.get(resolver.readEnum()))
    case Schema.Type.BYTES =>
      val bb = resolver.readBytes(null)
      val out = new Array[Byte](bb.remaining())
      bb.get(out)
      out
    case Schema.Type.ARRAY =>
      val elem = s.getElementType
      val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
      var n = resolver.readArrayStart()
      while (n > 0) {
        var i = 0L
        while (i < n) { buf += read(elem); i += 1 }
        n = resolver.arrayNext()
      }
      new GenericArrayData(buf.toArray)
    case Schema.Type.RECORD =>
      val fields = resolver.readFieldOrder()
      val row = new GenericInternalRow(s.getFields.size())
      var i = 0
      while (i < fields.length) {
        val f = fields(i)
        row.update(f.pos(), read(f.schema()))
        i += 1
      }
      row
    case Schema.Type.MAP =>
      val vt = s.getValueType
      val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
      val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      var n = resolver.readMapStart()
      while (n > 0) {
        var i = 0L
        while (i < n) {
          val k = resolver.readString(null)
          keys += UTF8String.fromBytes(k.getBytes, 0, k.getByteLength)
          vals += read(vt)
          i += 1
        }
        n = resolver.mapNext()
      }
      new ArrayBasedMapData(new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
    case other =>
      throw new UnsupportedOperationException(s"avro type not supported in decode: $other")
  }
}
