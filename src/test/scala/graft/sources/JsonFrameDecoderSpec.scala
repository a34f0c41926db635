package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._

import graft.{QueriesCore, SparkTestBase}
import graft.catalog.SystemColumns
import graft.plans.OffsetRangePlanner

/** The JSON log reader ([[KafkaEventSource.frameDecoder]] with
  * [[JsonPayloadCodec]]) against the DataFrame decode it replaced
  * ([[ReferenceDecode.decodeRaw]]): over the same raw frames, both must keep
  * the same offsets and give equal rows, for all columns and a pruned set,
  * under two session time zones.
  */
class JsonFrameDecoderSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("amount", DoubleType),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType), StructField("depth", IntegerType)))),
    StructField("tags", ArrayType(StringType)),
    StructField("ts", TimestampType),
    StructField("day", DateType)))

  private def utf8(s: String): Option[Array[Byte]] = Some(s.getBytes(UTF_8))
  private def bytes(b: Int*): Option[Array[Byte]] = Some(b.map(_.toByte).toArray)

  private val cases: Seq[(String, Seq[Option[Array[Byte]]])] = Seq(
    "valid payloads" -> Seq(
      utf8("""{"user_id": 7, "event_type": "click", "amount": 1.5, "meta": {"kind": "a", "depth": 2},
             | "tags": ["x", "y"], "ts": "2024-05-01T10:00:00Z", "day": "2024-05-01"}""".stripMargin),
      utf8("""{"user_id": 8}"""),
      utf8("""{}"""),
      utf8("""{"user_id": null, "event_type": null, "meta": null, "tags": null}"""),
      utf8("""  {"event_type": "café ☃", "tags": []}  """),
      utf8("""{"amount": 1e308, "user_id": -9223372036854775808}""")),
    "type mismatches" -> Seq(
      utf8("""{"user_id": "12", "event_type": "view"}"""),
      utf8("""{"user_id": "abc"}"""),
      utf8("""{"user_id": 1.5}"""),
      utf8("""{"user_id": 99999999999999999999}"""),
      utf8("""{"event_type": 42}"""),
      utf8("""{"event_type": {"nested": true}, "user_id": 3}"""),
      utf8("""{"amount": "NaN"}"""),
      utf8("""{"meta": "not a struct"}"""),
      utf8("""{"tags": "not an array"}""")),
    "nested and extra fields" -> Seq(
      utf8("""{"user_id": 1, "meta": {"kind": "k", "depth": 3, "x": [1, 2]}, "extra": {"deep": [1]}}"""),
      utf8("""{"meta": {"depth": "deep"}}"""),
      utf8("""{"meta": {}, "tags": ["a", null, "b"], "other": null}""")),
    "duplicate keys" -> Seq(
      utf8("""{"user_id": 1, "user_id": 2}"""),
      utf8("""{"event_type": "a", "event_type": 5, "event_type": "b"}"""),
      utf8("""{"meta": {"kind": "a"}, "meta": {"depth": 4}}""")),
    "empty, blank and non-object payloads" -> Seq(
      utf8(""), utf8("   "), utf8(" \n\t "), utf8("null"), utf8("42"), utf8("\"s\""),
      utf8("""[{"user_id": 1}]"""), utf8("[]"), utf8("""[{"user_id": 1}, {"user_id": 2}]""")),
    "truncated, invalid UTF-8 and null payloads" -> Seq(
      utf8("""{"user_id": 1, "event_"""),
      utf8("""{"user_id": 1"""),
      utf8("""{"user_id": 1}}"""),
      utf8("""{"user_id": 1} trailing"""),
      bytes('{', '"', 'e', 'v', 'e', 'n', 't', '_', 't', 'y', 'p', 'e', '"', ':', '"', 'c', 0xc3, '"', '}'),
      bytes('{', '"', 'e', 'v', 'e', 'n', 't', '_', 't', 'y', 'p', 'e', '"', ':', '"', 0xff, 0xfe, '"', '}'),
      bytes(0xff, 0xfe, 0xfd),
      bytes('{', '"', 0xc0, 0xaf, '"', ':', '1', '}'),
      None),
    "timestamps and dates" -> Seq(
      utf8("""{"ts": "2024-03-10 02:30:00", "day": "2024-03-10"}"""),
      utf8("""{"ts": "2024-11-03T01:30:00", "day": "2024-11-03"}"""),
      utf8("""{"ts": "2024-11-03T01:30:00-07:00"}"""),
      utf8("""{"ts": "1970-01-01T00:00:00.123456Z", "day": "1970-01-01"}"""),
      utf8("""{"ts": 1700000000}"""),
      utf8("""{"ts": "yesterday"}"""),
      utf8("""{"day": "2024-02-30"}"""),
      utf8("""{"day": 19000}"""),
      utf8("""{"day": "2024-05-01T23:30:00"}""")))

  private val all = StructType(SystemColumns.fields ++ schema.fields)
  private val pruned = StructType(Seq("_offset", "meta", "ts", "day").map(all(_)))

  /** Offset → row of `columns`, from the reader and from the reference. */
  private def decodeBoth(payloads: Seq[Option[Array[Byte]]],
                         columns: StructType): (Map[Long, Row], Map[Long, Row]) = {
    val frames = payloads.zipWithIndex.map { case (p, i) =>
      Row(null, p.orNull, "t", 0, i.toLong, new java.sql.Timestamp(0L), 0)
    }
    val raw = spark.createDataFrame(java.util.Arrays.asList(frames: _*), FakeKafka.frameSchema)
    val reference = ReferenceDecode.decodeRaw(raw, "proj", "events", schema, JsonPayloadCodec)
      .select(columns.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .collect().map(r => r.getAs[Long](SystemColumns.Offset) -> r).toMap
    val reader = KafkaEventSource.frameDecoder(spark, "proj", "events", schema, columns,
      OffsetRangePlanner.Full, JsonPayloadCodec).open()
    val toRow = CatalystTypeConverters.createToScalaConverter(columns)
    val decoded = raw.queryExecution.toRdd.map(_.copy()).collect().toSeq.flatMap { f =>
      if (reader.decode(f)) {
        val r = toRow(reader.row()).asInstanceOf[Row]
        Some(r.getAs[Long](SystemColumns.Offset) -> r)
      } else None
    }.toMap
    (decoded, reference)
  }

  for ((name, payloads) <- cases; tz <- Seq("UTC", "America/Los_Angeles")) {
    test(s"reader matches the reference decode: $name, $tz") {
      QueriesCore.withConfs(spark, "spark.sql.session.timeZone" -> tz) {
        for (columns <- Seq(all, pruned)) {
          val (decoded, reference) = decodeBoth(payloads, columns)
          assert(decoded.keySet == reference.keySet, s"$name: kept offsets over $columns")
          for ((o, want) <- reference) {
            assert(decoded(o) == want, s"$name: row of offset $o over $columns")
          }
        }
      }
    }
  }

  test("the cases exercise both verdicts, and the zone moves a local timestamp") {
    val verdicts = cases.map { case (name, payloads) =>
      val (decoded, _) = decodeBoth(payloads, all)
      name -> (decoded.size, payloads.size - decoded.size)
    }.toMap
    assert(verdicts("valid payloads") == ((6, 0)))
    assert(verdicts.values.map(_._2).sum >= 15, verdicts)
    val local = Seq(utf8("""{"ts": "2024-05-01 10:00:00"}"""))
    val ts = Seq("UTC", "America/Los_Angeles").map { tz =>
      QueriesCore.withConfs(spark, "spark.sql.session.timeZone" -> tz) {
        decodeBoth(local, pruned)._1(0L).getAs[java.sql.Timestamp]("ts").getTime
      }
    }
    assert(ts(1) - ts(0) == 7L * 3600 * 1000)
  }
}
