package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.{Resolver, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** An Avro (writer, reader) schema pair compiled once into a flat list of
  * field reads over a byte cursor: the rebuild of the reference's
  * `PageDatumReader`, which wrote each field straight into a page builder
  * (`PageDatumReader.java:109-166`). The top-level record's fields decode
  * straight into a caller's row at the ordinals the plan was compiled with;
  * nested records, arrays and maps become Catalyst values.
  *
  * Built from Avro's own resolution (`Resolver.resolve` of the aliased
  * writer against the reader), so schema evolution is Avro's: writer fields
  * the reader lacks are byte-skipped, reader fields the writer lacks take
  * their defaults, aliases rename, numbers and string/bytes promote, and a
  * writer union picks its branch per datum.
  *
  * A datum is malformed exactly when Avro's `BinaryDecoder` would fail on
  * it: a read past the end, a negative or over-limit length, a varint
  * longer than its type allows, or a union branch or enum symbol out of
  * range. Byte-skips follow `BinaryDecoder` too, which skips a negative
  * length as zero bytes. Trailing bytes are accepted.
  */
final class AvroReadPlan private (root: AvroReadPlan.ReadRecord) extends Serializable {

  /** Fields of the row [[read]] fills. */
  def width: Int = root.width

  /** Decodes `bytes` into `row`; false when the datum is malformed, which may
    * leave `row` partly written. String values are views of `bytes`.
    */
  def read(in: AvroCursor, bytes: Array[Byte], row: InternalRow): Boolean = {
    in.reset(bytes)
    try { root.fill(in, row); true }
    catch { case AvroCursor.Malformed => false }
  }
}

object AvroReadPlan {

  /** The plan reading `writer` datums as `reader` records, each field at
    * its reader position.
    */
  def compile(writer: Schema, reader: Schema): AvroReadPlan =
    compile(writer, reader, reader.getFields.asScala.map(_.name()).toIndexedSeq)

  /** The plan reading `writer` datums as `reader` records into rows of
    * `columns`: reader field `f` goes to ordinal `columns.indexOf(f.name)`. A
    * field that is not a column is still read and validated, but not stored.
    */
  def compile(writer: Schema, reader: Schema, columns: IndexedSeq[String]): AvroReadPlan = {
    val top = resolve(writer, reader) match {
      case r: Resolver.RecordAdjust => record(r)
      case _ => ReadRecord(Array(Fail), Array(-1), 0)
    }
    val ordinals = top.ordinals.map(o =>
      if (o < 0) o else columns.indexOf(reader.getFields.get(o).name()))
    new AvroReadPlan(ReadRecord(top.fields, ordinals, columns.size))
  }

  private def resolve(writer: Schema, reader: Schema): Resolver.Action =
    Resolver.resolve(Schema.applyAliases(writer, reader), reader)

  private def compile(a: Resolver.Action): Read = a match {
    case s: Resolver.Skip => skip(s.writer)
    case _: Resolver.ErrorAction => Fail
    case r: Resolver.RecordAdjust => record(r)
    case u: Resolver.WriterUnion => ReadUnion(u.actions.map(compile))
    // the reader's branch is the value's type: a union is nullable T
    case u: Resolver.ReaderUnion => compile(u.actualAction)
    case c: Resolver.Container =>
      if (c.reader.getType == Schema.Type.ARRAY) ReadArray(compile(c.elementAction))
      else ReadMap(compile(c.elementAction))
    case e: Resolver.EnumAdjust =>
      ReadEnum(e.reader.getEnumSymbols.asScala.map(UTF8String.fromString).toArray,
        e.adjustments.clone())
    case p: Resolver.Promote => (p.writer.getType, p.reader.getType) match {
      case (Schema.Type.INT, Schema.Type.LONG) => LongFromInt
      case (Schema.Type.INT, Schema.Type.FLOAT) => FloatFromInt
      case (Schema.Type.LONG, Schema.Type.FLOAT) => FloatFromLong
      case (Schema.Type.INT, Schema.Type.DOUBLE) => DoubleFromInt
      case (Schema.Type.LONG, Schema.Type.DOUBLE) => DoubleFromLong
      case (Schema.Type.FLOAT, Schema.Type.DOUBLE) => DoubleFromFloat
      // string and bytes share one wire form
      case (_, t) => primitive(t)
    }
    case d: Resolver.DoNothing => primitive(d.reader.getType)
  }

  private def primitive(t: Schema.Type): Read = t match {
    case Schema.Type.NULL => ReadNull
    case Schema.Type.BOOLEAN => ReadBoolean
    case Schema.Type.INT => ReadInt
    case Schema.Type.LONG => ReadLong
    case Schema.Type.FLOAT => ReadFloat
    case Schema.Type.DOUBLE => ReadDouble
    case Schema.Type.STRING => ReadString
    case Schema.Type.BYTES => ReadBytes
    case other =>
      // FIXED: outside the lattice AvroSchemas maps
      throw new UnsupportedOperationException(s"avro type not supported in decode: $other")
  }

  /** Fields in writer order, each read into its reader position or skipped,
    * then the reader-only fields' defaults (`RecordAdjust`'s layout).
    */
  private def record(r: Resolver.RecordAdjust): ReadRecord = {
    val fields = ArrayBuffer.empty[Read]
    val ordinals = ArrayBuffer.empty[Int]
    var next = 0
    r.fieldActions.foreach {
      case s: Resolver.Skip => fields += skip(s.writer); ordinals += -1
      case a =>
        fields += compile(a); ordinals += r.readerOrder(next).pos()
        next += 1
    }
    while (next < r.readerOrder.length) {
      val f = r.readerOrder(next)
      fields += Default(defaultValue(f)); ordinals += f.pos()
      next += 1
    }
    ReadRecord(fields.toArray, ordinals.toArray, r.reader.getFields.size())
  }

  /** A reader-only field's default as a Catalyst value: its Avro encoding,
    * decoded by the field's own plan.
    */
  private def defaultValue(f: Schema.Field): Any = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[Any](f.schema(), GenericData.get())
      .write(GenericData.get().getDefaultValue(f), enc)
    enc.flush()
    val in = new AvroCursor
    in.reset(out.toByteArray)
    compile(resolve(f.schema(), f.schema())).value(in)
  }

  /** Avro's byte-skip of a writer value the reader lacks. */
  private def skip(w: Schema): Read = w.getType match {
    case Schema.Type.STRING | Schema.Type.BYTES => SkipBytes
    case Schema.Type.FIXED => SkipFixed(w.getFixedSize)
    case Schema.Type.ENUM => ReadInt
    case Schema.Type.UNION => ReadUnion(w.getTypes.asScala.map(skip).toArray)
    case Schema.Type.RECORD => SkipAll(w.getFields.asScala.map(f => skip(f.schema())).toArray)
    case Schema.Type.ARRAY => SkipItems(skip(w.getElementType), keys = false)
    case Schema.Type.MAP => SkipItems(skip(w.getValueType), keys = true)
    case t => primitive(t)
  }

  /** Reads one Avro value; stateless, so a plan is shared by every reader. */
  private[functions] sealed abstract class Read extends Serializable {
    /** The value as Catalyst holds it (primitives boxed). */
    def value(in: AvroCursor): Any

    /** Reads the value into `row` at `ordinal`; a negative ordinal drops it. */
    def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit = {
      val v = value(in)
      if (ordinal >= 0) row.update(ordinal, v)
    }
  }

  private case object Fail extends Read {
    override def value(in: AvroCursor): Any = throw AvroCursor.Malformed
  }

  private case object ReadNull extends Read {
    override def value(in: AvroCursor): Any = null
    override def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit =
      if (ordinal >= 0) row.setNullAt(ordinal)
  }

  private case object ReadBoolean extends Read {
    override def value(in: AvroCursor): Any = in.readBoolean()
    override def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit = {
      val v = in.readBoolean()
      if (ordinal >= 0) row.setBoolean(ordinal, v)
    }
  }

  private case object ReadInt extends Read {
    override def value(in: AvroCursor): Any = in.readInt()
    override def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit = {
      val v = in.readInt()
      if (ordinal >= 0) row.setInt(ordinal, v)
    }
  }

  private case object ReadLong extends Read {
    override def value(in: AvroCursor): Any = in.readLong()
    override def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit = {
      val v = in.readLong()
      if (ordinal >= 0) row.setLong(ordinal, v)
    }
  }

  private case object ReadFloat extends Read {
    override def value(in: AvroCursor): Any = in.readFloat()
    override def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit = {
      val v = in.readFloat()
      if (ordinal >= 0) row.setFloat(ordinal, v)
    }
  }

  private case object ReadDouble extends Read {
    override def value(in: AvroCursor): Any = in.readDouble()
    override def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit = {
      val v = in.readDouble()
      if (ordinal >= 0) row.setDouble(ordinal, v)
    }
  }

  private case object LongFromInt extends Read {
    override def value(in: AvroCursor): Any = in.readInt().toLong
  }

  private case object FloatFromInt extends Read {
    override def value(in: AvroCursor): Any = in.readInt().toFloat
  }

  private case object FloatFromLong extends Read {
    override def value(in: AvroCursor): Any = in.readLong().toFloat
  }

  private case object DoubleFromInt extends Read {
    override def value(in: AvroCursor): Any = in.readInt().toDouble
  }

  private case object DoubleFromLong extends Read {
    override def value(in: AvroCursor): Any = in.readLong().toDouble
  }

  private case object DoubleFromFloat extends Read {
    override def value(in: AvroCursor): Any = in.readFloat().toDouble
  }

  private case object ReadString extends Read {
    override def value(in: AvroCursor): Any = {
      val n = in.readLength()
      val s = UTF8String.fromBytes(in.buf, in.pos, n)
      in.pos += n
      s
    }
  }

  private case object ReadBytes extends Read {
    override def value(in: AvroCursor): Any = {
      val n = in.readLength()
      val b = java.util.Arrays.copyOfRange(in.buf, in.pos, in.pos + n)
      in.pos += n
      b
    }
  }

  private final case class ReadEnum(symbols: Array[UTF8String], adjust: Array[Int]) extends Read {
    override def value(in: AvroCursor): Any = {
      val i = in.readInt()
      if (i < 0 || i >= adjust.length || adjust(i) < 0) throw AvroCursor.Malformed
      symbols(adjust(i))
    }
  }

  /** A writer union: the datum's branch index picks the read. */
  private final case class ReadUnion(branches: Array[Read]) extends Read {
    private def branch(in: AvroCursor): Read = {
      val i = in.readInt()
      if (i < 0 || i >= branches.length) throw AvroCursor.Malformed
      branches(i)
    }
    override def value(in: AvroCursor): Any = branch(in).value(in)
    override def into(in: AvroCursor, row: InternalRow, ordinal: Int): Unit =
      branch(in).into(in, row, ordinal)
  }

  /** A reader-only field: its default, read from no bytes. */
  private final case class Default(v: Any) extends Read {
    override def value(in: AvroCursor): Any = v match {
      case b: Array[Byte] => b.clone()
      case other => other
    }
  }

  private[functions] final case class ReadRecord(
      fields: Array[Read], ordinals: Array[Int], width: Int) extends Read {
    def fill(in: AvroCursor, row: InternalRow): Unit = {
      var i = 0
      while (i < fields.length) {
        fields(i).into(in, row, ordinals(i))
        i += 1
      }
    }
    override def value(in: AvroCursor): Any = {
      val row = new GenericInternalRow(width)
      fill(in, row)
      row
    }
  }

  private final case class ReadArray(element: Read) extends Read {
    override def value(in: AvroCursor): Any = {
      val items = ArrayBuffer.empty[Any]
      var n = in.readItemsStart()
      while (n > 0) {
        var i = 0L
        while (i < n) { items += element.value(in); i += 1 }
        n = in.readItemsNext()
      }
      new GenericArrayData(items.toArray)
    }
  }

  private final case class ReadMap(valueRead: Read) extends Read {
    override def value(in: AvroCursor): Any = {
      val keys = ArrayBuffer.empty[Any]
      val values = ArrayBuffer.empty[Any]
      var n = in.readItemsStart()
      while (n > 0) {
        var i = 0L
        while (i < n) {
          keys += ReadString.value(in)
          values += valueRead.value(in)
          i += 1
        }
        n = in.readItemsNext()
      }
      new ArrayBasedMapData(new GenericArrayData(keys.toArray), new GenericArrayData(values.toArray))
    }
  }

  private case object SkipBytes extends Read {
    override def value(in: AvroCursor): Any = { in.skip(in.readLong()); null }
  }

  private final case class SkipFixed(size: Int) extends Read {
    override def value(in: AvroCursor): Any = { in.skip(size); null }
  }

  private final case class SkipAll(parts: Array[Read]) extends Read {
    override def value(in: AvroCursor): Any = {
      var i = 0
      while (i < parts.length) { parts(i).value(in); i += 1 }
      null
    }
  }

  /** Array or map blocks; a negative count's block is skipped by its byte size. */
  private final case class SkipItems(item: Read, keys: Boolean) extends Read {
    override def value(in: AvroCursor): Any = {
      var n = in.skipItems()
      while (n != 0) {
        while (n > 0) {
          if (keys) SkipBytes.value(in)
          item.value(in)
          n -= 1
        }
        n = in.skipItems()
      }
      null
    }
  }
}

/** A read position in one Avro datum, failing as Avro's `BinaryDecoder`
  * fails over a byte array: that decoder reads past the end as zero padding
  * and then reports end-of-file, so a value is malformed unless it lies
  * wholly inside the datum. Every failure throws [[AvroCursor.Malformed]].
  * Not thread-safe; one per reader.
  */
final class AvroCursor {
  private[functions] var buf: Array[Byte] = Array.emptyByteArray
  private[functions] var pos = 0
  private var limit = 0
  // the block count of the array or map being read, as BinaryDecoder keeps it
  private var items = 0L

  def reset(bytes: Array[Byte]): Unit = {
    buf = bytes
    pos = 0
    limit = bytes.length
  }

  def readBoolean(): Boolean = {
    if (pos >= limit) throw AvroCursor.Malformed
    val b = buf(pos)
    pos += 1
    b == 1
  }

  /** Zig-zag varint of at most 5 bytes; bits past 32 are dropped. */
  def readInt(): Int = {
    var p = pos
    var n = 0
    var shift = 0
    var b = 0x80
    while ((b & 0x80) != 0) {
      if (p >= limit || shift == 35) throw AvroCursor.Malformed
      b = buf(p)
      n |= (b & 0x7f) << shift
      p += 1
      shift += 7
    }
    pos = p
    (n >>> 1) ^ -(n & 1)
  }

  /** Zig-zag varint of at most 10 bytes; bits past 64 are dropped. */
  def readLong(): Long = {
    var p = pos
    var n = 0L
    var shift = 0
    var b = 0x80
    while ((b & 0x80) != 0) {
      if (p >= limit || shift == 70) throw AvroCursor.Malformed
      b = buf(p)
      n |= (b & 0x7fL) << shift
      p += 1
      shift += 7
    }
    pos = p
    (n >>> 1) ^ -(n & 1)
  }

  def readFloat(): Float = {
    if (limit - pos < 4) throw AvroCursor.Malformed
    val bits = (buf(pos) & 0xff) | (buf(pos + 1) & 0xff) << 8 |
      (buf(pos + 2) & 0xff) << 16 | (buf(pos + 3) & 0xff) << 24
    pos += 4
    java.lang.Float.intBitsToFloat(bits)
  }

  def readDouble(): Double = {
    if (limit - pos < 8) throw AvroCursor.Malformed
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = bits << 8 | (buf(pos + i) & 0xffL); i -= 1 }
    pos += 8
    java.lang.Double.longBitsToDouble(bits)
  }

  /** A string or bytes length that the rest of the datum holds. */
  def readLength(): Int = {
    val n = readLong()
    if (n < 0 || n > limit - pos) throw AvroCursor.Malformed
    n.toInt
  }

  /** `BinaryDecoder.doSkipBytes`: a length of zero or less skips nothing. */
  def skip(n: Long): Unit =
    if (n > 0) {
      if (n > limit - pos) throw AvroCursor.Malformed
      pos += n.toInt
    }

  // A block count; a negative one is followed by the block's byte size.
  private def itemCount(): Long = {
    val n = readLong()
    if (n < 0) { readLong(); -n } else n
  }

  /** First block count of an array or map being read, capped as Avro caps
    * collections (`SystemLimitException`).
    */
  def readItemsStart(): Long = {
    val n = itemCount()
    if (n > AvroCursor.MaxItems) throw AvroCursor.Malformed
    items = n.toInt.toLong
    items
  }

  /** Next block count of the array or map being read. */
  def readItemsNext(): Long = {
    val n = itemCount()
    val total = items + n
    if (items < 0 || n < 0 || total > AvroCursor.MaxItems || total < items)
      throw AvroCursor.Malformed
    items = total
    n
  }

  /** Next block count of an array or map being skipped; blocks that carry
    * their byte size are skipped whole.
    */
  def skipItems(): Long = {
    var n = readLong()
    while (n < 0) {
      skip(readLong())
      n = readLong()
    }
    n
  }
}

object AvroCursor {
  /** A datum Avro's decoder would reject; carries no stack trace. */
  object Malformed extends RuntimeException("malformed Avro datum", null, false, false)

  private val MaxItems = Int.MaxValue - 8L
}
