package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.catalog.{GraftLogTable, SystemColumns}
import graft.functions.{AvroSchemas, GraftFunctions => GF}
import graft.plans.OffsetRange
import graft.sources.{AvroPayloadCodec, JsonPayloadCodec, KafkaEventSource, ReferenceDecode}

class KafkaSourceSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true)))

  private def kafkaShaped = {
    // fabricate Kafka-shaped rows by encoding through our own codec —
    // broker-free parity test of the post-read path
    val s0 = spark
    import s0.implicits._
    val avro = AvroSchemas.toAvro(schema).toString
    Seq((1L, "click"), (2L, "view"), (3L, "click"))
      .toDF("user_id", "event_type")
      .select(monotonically_increasing_id().as("offset"),
        GF.to_avro(struct(col("user_id"), col("event_type")), avro).as("value"))
  }

  test("decodeRaw: system columns first, fields decoded, offsets preserved") {
    val df = ReferenceDecode.decodeRaw(kafkaShaped, "proj", "events", schema, AvroPayloadCodec)
    assert(df.columns.toSeq ==
      Seq(SystemColumns.Offset, SystemColumns.Project, SystemColumns.Collection,
        "user_id", "event_type"))
    val rows = df.orderBy("user_id").collect()
    assert(rows.map(_.getString(4)).toSeq == Seq("click", "view", "click"))
    assert(rows.forall(r => r.getString(1) == "proj" && r.getString(2) == "events"))
  }

  test("decodeRaw drops malformed avro payloads (reference drop semantics)") {
    val junk = kafkaShaped.unionAll(
      kafkaShaped.limit(1).select(lit(99L).as("offset"), lit(Array[Byte](7)).as("value")))
    val df = ReferenceDecode.decodeRaw(junk, "p", "c", schema, AvroPayloadCodec)
    assert(df.count() == 3)
  }

  test("json codec decodes and null-drops malformed") {
    val s0 = spark
    import s0.implicits._
    val raw = Seq(
      (0L, """{"user_id": 5, "event_type": "click"}"""),
      (1L, """not json at all""")
    ).toDF("offset", "payload").select(col("offset"), col("payload").cast("binary").as("value"))
    val df = ReferenceDecode.decodeRaw(raw, "p", "c", schema, JsonPayloadCodec)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getLong(3) == 5L)
  }

  test("readOptions carry pruned offsets and reference buffer parity") {
    val src = KafkaEventSource("broker:9092", partitionsOf = _ => 2, minPartitions = Some(8))
    val opts = src.readOptions("proj_events", OffsetRange(100, Some(200)))
    assert(opts("startingOffsets") == """{"proj_events":{"0":100,"1":100}}""")
    assert(opts("endingOffsets") == """{"proj_events":{"0":200,"1":200}}""")
    assert(opts("kafka.fetch.max.bytes") == "1000000")  // KafkaConnectorPageSource.java:62
    assert(opts("kafka.receive.buffer.bytes") == "65536") // KafkaConnectorConfig.java:49
    assert(opts("minPartitions") == "8")
    assert(opts("subscribe") == "proj_events")
  }

  test("rangePredicate restores multi-range semantics on a superset stream") {
    val s0 = spark
    import s0.implicits._
    val df = (0L until 50L).toDF("_offset")
    def in(ranges: Seq[OffsetRange]) =
      Bridge.column(GraftLogTable.rangePredicate(Bridge.expression(col("_offset")), ranges))
    val ranges = Seq(OffsetRange(5, Some(10)), OffsetRange(20, Some(25)), OffsetRange(40, None))
    val kept = df.filter(in(ranges)).collect().map(_.getLong(0)).toSet
    assert(kept == ((5L until 10L) ++ (20L until 25L) ++ (40L until 50L)).toSet)
    // no ranges -> nothing passes (matches the empty batch relation)
    assert(df.filter(in(Nil)).count() == 0)
  }

  test("avro round-trip: encode(decode) is lossless incl. nulls") {
    val s0 = spark
    import s0.implicits._
    val avro = AvroSchemas.toAvro(schema).toString
    val df = Seq((Some(1L), Some("x")), (None, None), (Some(3L), None))
      .toDF("user_id", "event_type")
    val back = df
      .select(GF.to_avro(struct(col("user_id"), col("event_type")), avro).as("v"))
      .select(GF.from_avro(col("v"), avro).as("e"))
      .select("e.*")
    assert(back.collect().toSet == df.collect().toSet)
  }
}
