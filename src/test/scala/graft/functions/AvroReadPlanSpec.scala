package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FakeKafka

/** [[AvroReadPlan]] against the `ResolvingDecoder` it replaced
  * ([[ReferenceAvroDecoder]]): over valid payloads of each (writer, reader)
  * pair and seeded mutations of them, both must give the same malformed
  * verdict and, where well-formed, equal rows.
  */
class AvroReadPlanSpec extends AnyFunSuite {

  private def parse(json: String): Schema = new Schema.Parser().parse(json)

  private val ev = AvroSchemas.toAvro(StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("tags", ArrayType(StringType, containsNull = false), nullable = true))), "ev")

  private val nested = AvroSchemas.toAvro(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false),
      StructField("depth", IntegerType, nullable = false))), nullable = true),
    StructField("attrs", MapType(StringType, LongType, valueContainsNull = false),
      nullable = true))), "nv")

  /** Every wire type, for skips: a reader of one field skips the others. */
  private val wide = parse("""{"type":"record","name":"w","fields":[
    {"name":"id","type":"long"},
    {"name":"s","type":"string"},
    {"name":"n","type":["null","string"]},
    {"name":"arr","type":{"type":"array","items":"long"}},
    {"name":"m","type":{"type":"map","values":["null","double"]}},
    {"name":"rec","type":{"type":"record","name":"r","fields":[
      {"name":"a","type":"int"},{"name":"b","type":"bytes"}]}},
    {"name":"f","type":"float"},
    {"name":"bo","type":"boolean"},
    {"name":"d","type":"double"}]}""")

  private val withDefaults = parse("""{"type":"record","name":"ev","fields":[
    {"name":"user_id","type":"long"},
    {"name":"count","type":"long","default":42},
    {"name":"label","type":"string","default":"none"},
    {"name":"blob","type":"bytes","default":"ab"},
    {"name":"opt","type":["null","int"],"default":null},
    {"name":"inner","type":{"type":"record","name":"in","fields":[
      {"name":"x","type":"double"}]},"default":{"x":1.5}},
    {"name":"list","type":{"type":"array","items":"string"},"default":["a","b"]}]}""")

  private val renamed = parse("""{"type":"record","name":"ev","namespace":"graft","fields":[
    {"name":"uid","type":"long","aliases":["user_id"]},
    {"name":"kind","type":["null","string"],"aliases":["event_type"]}]}""")

  private val narrow = parse("""{"type":"record","name":"p","fields":[
    {"name":"i","type":"int"},{"name":"l","type":"long"},{"name":"f","type":"float"},
    {"name":"s","type":"string"},{"name":"b","type":"bytes"},
    {"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}},
    {"name":"ni","type":["int","null"]}]}""")

  private val promoted = parse("""{"type":"record","name":"p","fields":[
    {"name":"i","type":"long"},{"name":"l","type":"double"},{"name":"f","type":"double"},
    {"name":"s","type":"bytes"},{"name":"b","type":"string"},
    {"name":"e","type":{"type":"enum","name":"E","symbols":["C","B","A"]}},
    {"name":"ni","type":["null","long"]}]}""")

  private val reversedUnion = parse("""{"type":"record","name":"rv","fields":[
    {"name":"user_id","type":"long"},
    {"name":"event_type","type":["string","null"]}]}""")

  private val cases: Seq[(String, Schema, Schema)] = Seq(
    ("nulls and arrays", ev, ev),
    ("pruned reader", ev, AvroSchemas.project(ev, Seq("event_type"))),
    ("pruned reader of two fields", ev, AvroSchemas.project(ev, Seq("user_id", "tags"))),
    ("added writer field", AvroSchemas.toAvro(AvroSchemas.toSpark(ev)
      .add("added", MapType(StringType, StringType)), "ev"), ev),
    ("missing reader field with a null default", ev, AvroSchemas.toAvro(AvroSchemas.toSpark(ev)
      .add("new_col", StringType, nullable = true), "ev")),
    ("missing reader fields with defaults", AvroSchemas.project(withDefaults, Seq("user_id")),
      withDefaults),
    ("aliases", ev, renamed),
    ("nested records and maps", nested, nested),
    ("nested pruned reader", nested, AvroSchemas.projectNestedField(nested, "meta", "kind")),
    ("pruned reader skipping every wire type", wide, AvroSchemas.project(wide, Seq("id", "d"))),
    ("pruned reader of one middle field", wide, AvroSchemas.project(wide, Seq("bo"))),
    ("every wire type", wide, wide),
    ("union [T, null]", reversedUnion, reversedUnion),
    ("primitives and an enum", narrow, narrow),
    ("promotions", narrow, promoted),
    ("FakeKafka log record", FakeKafka.avroSchema, FakeKafka.avroSchema),
    ("FakeKafka pruned to user_id", FakeKafka.avroSchema,
      AvroSchemas.project(FakeKafka.avroSchema, Seq("user_id"))))

  /** A random datum of `s`, with numbers small enough that a misaligned
    * read never asks the reference decoder for a huge buffer.
    */
  private def datum(s: Schema, rnd: Random): Any = s.getType match {
    case Schema.Type.NULL => null
    case Schema.Type.BOOLEAN => rnd.nextBoolean()
    case Schema.Type.INT => rnd.nextInt(1 << 16) - (1 << 15)
    case Schema.Type.LONG => rnd.nextLong() >> 44
    case Schema.Type.FLOAT => rnd.nextFloat()
    case Schema.Type.DOUBLE => rnd.nextDouble()
    case Schema.Type.STRING => rnd.nextString(rnd.nextInt(8))
    case Schema.Type.BYTES => ByteBuffer.wrap(Array.fill(rnd.nextInt(6))(rnd.nextInt(256).toByte))
    case Schema.Type.ENUM =>
      new GenericData.EnumSymbol(s, s.getEnumSymbols.get(rnd.nextInt(s.getEnumSymbols.size())))
    case Schema.Type.ARRAY => Seq.fill(rnd.nextInt(4))(datum(s.getElementType, rnd)).asJava
    case Schema.Type.MAP =>
      (0 until rnd.nextInt(4)).map(i => s"k$i" -> datum(s.getValueType, rnd)).toMap.asJava
    case Schema.Type.RECORD =>
      val r = new GenericData.Record(s)
      s.getFields.asScala.foreach(f => r.put(f.name(), datum(f.schema(), rnd)))
      r
    case Schema.Type.UNION => datum(s.getTypes.get(rnd.nextInt(s.getTypes.size())), rnd)
    case other => throw new IllegalArgumentException(s"no datum for $other")
  }

  private def encode(s: Schema, v: Any): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[Any](s).write(v, enc)
    enc.flush()
    out.toByteArray
  }

  /** `bytes` with `at` replaced by `patch`. */
  private def splice(bytes: Array[Byte], at: Int, patch: Array[Byte]): Array[Byte] =
    bytes.take(at) ++ patch ++ bytes.drop(at + 1)

  private val mutations: Seq[(String, (Array[Byte], Random) => Array[Byte])] = Seq(
    "truncation" -> ((b, r) => b.take(r.nextInt(b.length max 1))),
    // low seven bits only: a varint keeps its length, so no length grows huge
    "byte flip" -> ((b, r) => if (b.isEmpty) b else {
      val c = b.clone(); val i = r.nextInt(c.length)
      c(i) = (c(i) ^ (1 + r.nextInt(127))).toByte; c
    }),
    "appended bytes" -> ((b, r) => b ++ Array.fill(1 + r.nextInt(8))(r.nextInt(256).toByte)),
    // zig-zag -1 and -2
    "negative length" -> ((b, r) =>
      splice(b, r.nextInt(b.length + 1), Array[Byte](if (r.nextBoolean()) 1 else 3))),
    "over-long varint" -> ((b, r) =>
      splice(b, r.nextInt(b.length + 1), Array.fill[Byte](10 + r.nextInt(2))(-1) :+ 1.toByte)),
    // zig-zag -1, 2, 3 and 63
    "out-of-range union index" -> ((b, r) =>
      splice(b, r.nextInt(b.length + 1), Array(Seq[Byte](1, 4, 6, 126)(r.nextInt(4))))))

  private case class Outcome(malformed: Boolean, rows: Int)

  /** Decodes `payloads` with the plan and the reference; they must agree. */
  private def compare(name: String, writer: Schema, reader: Schema,
                      payloads: Seq[Array[Byte]], columns: Option[IndexedSeq[String]] = None): Outcome = {
    val readerType = AvroSchemas.toSpark(reader)
    val reference = new ReferenceAvroDecoder(writer, reader)
    val names = columns.getOrElse(readerType.fieldNames.toIndexedSeq)
    val plan = AvroReadPlan.compile(writer, reader, names)
    val outType = StructType(names.map(readerType(_)))
    val toRow = CatalystTypeConverters.createToScalaConverter(outType)
    val cursor = new AvroCursor
    var malformed = false
    var rows = 0
    for (p <- payloads) {
      // Avro throws this one past the JVM's array limit (a length or item
      // count of 2^31 - 8 or more), and the reference let it fail the task;
      // the plan drops such a payload as malformed
      val expected = try reference.decode(p) catch { case _: UnsupportedOperationException => null }
      val row = new GenericInternalRow(plan.width)
      val ok = plan.read(cursor, p, row)
      val hex = p.map(b => f"${b & 0xff}%02x").mkString(" ")
      assert(ok == (expected != null), s"$name: verdict on [$hex]")
      if (ok) {
        val want = new GenericInternalRow(names.map(n =>
          expected.get(readerType.fieldIndex(n), readerType(n).dataType)).toArray[Any])
        assert(toRow(row) == toRow(want), s"$name: row of [$hex]")
        rows += 1
      } else malformed = true
    }
    Outcome(malformed, rows)
  }

  for (((name, writer, reader), i) <- cases.zipWithIndex) {
    test(s"plan matches the reference decoder: $name") {
      val rnd = new Random(1000 + i)
      val valid = Seq.fill(40)(encode(writer, datum(writer, rnd)))
      val fine = compare(name, writer, reader, valid)
      assert(!fine.malformed && fine.rows == valid.size)
      for ((kind, mutate) <- mutations) {
        val mutated = valid.flatMap(p => Seq.fill(5)(mutate(p, rnd)))
        compare(s"$name, $kind", writer, reader, mutated)
      }
    }
  }

  test("every mutation but appended bytes makes some payloads malformed") {
    val rnd = new Random(7)
    val valid = Seq.fill(40)(encode(ev, datum(ev, rnd)))
    for ((kind, mutate) <- mutations) {
      val mutated = valid.flatMap(p => Seq.fill(5)(mutate(p, rnd)))
      val out = compare(kind, ev, ev, mutated)
      if (kind == "appended bytes") assert(out == Outcome(false, mutated.size))
      else assert(out.malformed, kind)
    }
  }

  test("a plan into a subset of columns validates the whole record") {
    val rnd = new Random(11)
    for ((writer, columns) <- Seq(ev -> IndexedSeq("user_id"), ev -> IndexedSeq("tags", "event_type"),
        wide -> IndexedSeq("d"), nested -> IndexedSeq.empty[String])) {
      val valid = Seq.fill(40)(encode(writer, datum(writer, rnd)))
      for ((kind, mutate) <- mutations) {
        compare(s"${writer.getName} into $columns, $kind", writer, writer,
          valid ++ valid.flatMap(p => Seq.fill(5)(mutate(p, rnd))), Some(columns))
      }
    }
  }

  test("a negative skipped length is skipped as zero bytes, a read one is malformed") {
    // user_id = 7, then event_type's string branch with length -1
    val payload = Array[Byte](2, 14, 2, 1)
    val pruned = AvroSchemas.project(FakeKafka.avroSchema, Seq("user_id"))
    assert(compare("pruned", FakeKafka.avroSchema, pruned, Seq(payload)) == Outcome(false, 1))
    assert(compare("full", FakeKafka.avroSchema, FakeKafka.avroSchema, Seq(payload)) ==
      Outcome(true, 0))
    assert(compare("full into user_id", FakeKafka.avroSchema, FakeKafka.avroSchema, Seq(payload),
      Some(IndexedSeq("user_id"))) == Outcome(true, 0))
  }

  test("top-level primitives decode into a reused row; strings view the payload") {
    val plan = AvroReadPlan.compile(FakeKafka.avroSchema, FakeKafka.avroSchema,
      IndexedSeq("event_type", "user_id"))
    val row: InternalRow = new GenericInternalRow(2)
    val cursor = new AvroCursor
    for (o <- 0L until 8L) {
      val payload = FakeKafka.avroPayloadFor(o, 1, 2, 0L)
      assert(plan.read(cursor, payload, row))
      assert(row.getLong(1) == FakeKafka.userIdFor(o, 1, 2))
      assert(row.getUTF8String(0).toString == FakeKafka.EventTypes((o % 4).toInt))
      assert(row.getUTF8String(0).getBaseObject eq payload)
    }
  }
}
