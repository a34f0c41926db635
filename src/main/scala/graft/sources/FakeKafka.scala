package graft.sources

import java.nio.charset.StandardCharsets
import java.util
import java.util.Optional

import scala.jdk.OptionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReadMaxRows,
  ReportsSourceMetrics, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Broker-free stand-in for Spark's Kafka batch source, used to exercise
  * the FULL [[KafkaEventSource.read]] path (offset-JSON parsing, one raw
  * scan per range, minPartitions splitting, decode, malformed-drop) —
  * the role the reference's `EmbeddedKafka.java:38-173` +
  * `TestManySegments.java:64-108` played for its connector, without a JVM
  * broker.
  *
  * Frame shape matches the Kafka connector exactly (key, value, topic,
  * partition, offset, timestamp, timestampType). Content is a DETERMINISTIC
  * function of (partition, offset), so any aggregate over a read is
  * predictable in closed form — the DuckDB oracle replays it with
  * `generate_series`:
  *
  *  - each of `fake.partitions` partitions holds offsets `[0, fake.latest)`
  *  - `value` = JSON `{"user_id": offset * P + partition,
  *    "event_type": EventTypes(offset % 4)}` — unless `fake.corruptEvery`
  *    divides the offset, in which case the payload is garbage (exercising
  *    the drop-malformed path)
  *  - `startingOffsets`/`endingOffsets` accept the connector's per-partition
  *    JSON (`{"topic":{"0":100,...}}`) or `"latest"`
  *  - `minPartitions` splits each partition's range into chunks, the
  *    connector's segment-granular parallelism (reference C4/O3)
  *
  * Usage: `KafkaEventSource(..., format = "graft.sources.FakeKafka",
  * extraOptions = Map("fake.latest" -> "25000", "fake.partitions" -> "4"))`.
  */
class FakeKafka extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FakeKafka.frameSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FakeKafkaTable(new CaseInsensitiveStringMap(properties))
}

object FakeKafka {
  /** The Kafka connector's fixed frame schema. */
  val frameSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "view", "purchase", "scroll")

  def userIdFor(offset: Long, partition: Int, numPartitions: Int): Long =
    offset * numPartitions + partition

  def payloadFor(offset: Long, partition: Int, numPartitions: Int,
                 corruptEvery: Long): Array[Byte] = {
    val s =
      if (corruptEvery > 0 && offset % corruptEvery == 0) "!! not json !!"
      else {
        val uid = userIdFor(offset, partition, numPartitions)
        s"""{"user_id":$uid,"event_type":"${EventTypes((offset % 4).toInt)}"}"""
      }
    s.getBytes(StandardCharsets.UTF_8)
  }

  /** The closed-form record's Avro writer schema (`fake.payload=avro`) —
    * built through the SAME [[graft.functions.AvroSchemas.toAvro]] the
    * decode side derives from the metastore schema, so writer/reader
    * resolution is exact, like the reference's live path
    * (`KafkaConnectorPageSource.java:298` decodes Avro; its test harness
    * produced JSON — the fake now does both).
    */
  lazy val avroSchema: org.apache.avro.Schema = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    graft.functions.AvroSchemas.toAvro(StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType))))
  }

  /** Avro twin of [[payloadFor]]: same closed-form content, same corrupt
    * slots (garbage bytes — the decoder must DROP them, C6 semantics).
    */
  def avroPayloadFor(offset: Long, partition: Int, numPartitions: Int,
                     corruptEvery: Long): Array[Byte] = {
    if (corruptEvery > 0 && offset % corruptEvery == 0)
      return "!! not avro !!".getBytes(StandardCharsets.UTF_8)
    val rec = new org.apache.avro.generic.GenericData.Record(avroSchema)
    rec.put("user_id", userIdFor(offset, partition, numPartitions))
    rec.put("event_type", EventTypes((offset % 4).toInt))
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](avroSchema)
      .write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** `{"0":100,"1":200}`-shaped JSON node → partition map; shared by the
    * batch option parser and the stream's offset (de)serialization so the
    * two can't drift.
    */
  private[sources] def fieldsToMap(node: com.fasterxml.jackson.databind.JsonNode): Map[Int, Long] = {
    val it = node.properties().iterator()
    val m = Map.newBuilder[Int, Long]
    while (it.hasNext) {
      val e = it.next()
      m += (e.getKey.toInt -> e.getValue.asLong())
    }
    m.result()
  }

  /** Parse the connector's per-partition offset JSON: `{"t":{"0":100}}`.
    * Returns partition → offset; None for the `"latest"`/`"earliest"`
    * string forms.
    */
  def parseOffsetJson(json: String, topic: String): Option[Map[Int, Long]] = {
    val t = json.trim
    if (!t.startsWith("{")) return None
    val node = new ObjectMapper().readTree(t).get(topic)
    if (node == null) return Some(Map.empty)
    Some(fieldsToMap(node))
  }

  /** The simulated broker's DURABLE log head, keyed by (topic + growth
    * config), shared by every stream instance in the JVM. A real broker's
    * latest offset can never regress across consumer restarts; the engine
    * RELIES on that — on checkpoint recovery it calls `latestOffset()` on
    * a FRESH source instance BEFORE any `deserializeOffset`/`commit`
    * hands it the restored position, and records whatever it answers in
    * the offsets log. A per-instance head that re-announced the configured
    * initial value there would regress the stream and re-deliver the last
    * window (observed before this fix). Keyed by the full growth config so
    * differently-configured fixtures never share state.
    */
  private val heads = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private[sources] def headOf(key: String, initial: Long): Long = {
    val h = heads.get(key)
    if (h == null) initial else math.max(initial, h.longValue())
  }
  private[sources] def raiseHead(key: String, v: Long): Unit =
    heads.merge(key, java.lang.Long.valueOf(v),
      (a, b) => java.lang.Long.valueOf(math.max(a.longValue(), b.longValue())))
}

final class FakeKafkaTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  private val topic = Option(options.get("subscribe")).getOrElse(
    throw new IllegalArgumentException("fake kafka needs 'subscribe'"))

  override def name(): String = s"fake-kafka:$topic"
  override def schema(): StructType = FakeKafka.frameSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new FakeKafkaScan(topic, options)
}

final class FakeKafkaScan(topic: String, options: CaseInsensitiveStringMap)
    extends Scan with Batch {

  private val numPartitions = options.getInt("fake.partitions", 1)
  private val latest = options.getLong("fake.latest", 1000L)
  private val corruptEvery = options.getLong("fake.corruptEvery", 0L)
  private val minPartitions = options.getInt("minPartitions", 0)
  private val payload = Option(options.get("fake.payload")).getOrElse("json")

  override def readSchema(): StructType = FakeKafka.frameSchema
  override def toBatch: Batch = this
  // the pruned offset window and the split request are part of the scan's
  // identity — advertise them so plans show broker-side pruning (the
  // connector's own scans do too) and how finely it is split
  override def description(): String =
    s"FakeKafkaScan $topic partitions=$numPartitions latest=$latest" +
      Seq("startingOffsets", "endingOffsets", "minPartitions")
        .flatMap(k => Option(options.get(k)).map(v => s" $k=$v")).mkString

  override def planInputPartitions(): Array[InputPartition] = {
    val starts = Option(options.get("startingOffsets"))
      .flatMap(FakeKafka.parseOffsetJson(_, topic)).getOrElse(Map.empty[Int, Long])
    val ends = Option(options.get("endingOffsets"))
      .flatMap(FakeKafka.parseOffsetJson(_, topic)).getOrElse(Map.empty[Int, Long])
    // minPartitions: split each partition's range into chunks (the Kafka
    // connector's offset-range splitting, our C4 segment analogue)
    val chunksPerPartition = math.max(1,
      (minPartitions + numPartitions - 1) / numPartitions)
    (0 until numPartitions).flatMap { p =>
      val s = math.max(0L, starts.getOrElse(p, 0L))
      val e = math.min(latest, ends.getOrElse(p, latest))
      if (e <= s) Nil
      else {
        val span = e - s
        val chunk = math.max(1L, (span + chunksPerPartition - 1) / chunksPerPartition)
        Iterator.iterate(s)(_ + chunk).takeWhile(_ < e).map { cs =>
          FakeKafkaPartition(topic, p, numPartitions, cs, math.min(cs + chunk, e),
            corruptEvery, payload): InputPartition
        }.toSeq
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FakeKafkaReaderFactory

  /** Streaming variant: the same closed-form log as an unbounded source.
    * The log head starts at `fake.latest` and (optionally) advances by
    * `fake.advancePerBatch` offsets per micro-batch up to `fake.maxLatest`
    * — enough to exercise readStream's start-offset handoff, the decoded
    * stream's residual `_offset` filter, and multi-batch progression,
    * broker-free.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FakeKafkaMicroBatchStream(topic, options)
}

/** The stream is admission-controlled like Spark's Kafka connector
  * (`KafkaMicroBatchStream`): the engine asks `latestOffset(start, limit)`
  * and the no-argument form throws, `maxOffsetsPerTrigger` caps each
  * micro-batch (pro rata over the partitions' lag, as the connector does),
  * `Trigger.AvailableNow` fixes the end at the head it sees when the query
  * starts, and each progress report carries the offsets-behind-latest
  * metrics.
  */
final class FakeKafkaMicroBatchStream(topic: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val numPartitions = options.getInt("fake.partitions", 1)
  private val initialLatest = options.getLong("fake.latest", 1000L)
  private val advancePerBatch = options.getLong("fake.advancePerBatch", 0L)
  private val maxLatest = options.getLong("fake.maxLatest", initialLatest)
  private val corruptEvery = options.getLong("fake.corruptEvery", 0L)
  private val payload = Option(options.get("fake.payload")).getOrElse("json")
  private val maxOffsetsPerTrigger = Option(options.get("maxOffsetsPerTrigger")).map(_.toLong)

  /** Durable-broker head (see [[FakeKafka.headOf]]): JVM-global per
    * (topic, growth config), so a fresh instance after checkpoint restart
    * answers `latestOffset` with the real head — never the configured
    * initial value — exactly like a broker whose log survived the consumer.
    */
  private val headKey =
    s"$topic|$numPartitions|$initialLatest|$advancePerBatch|$maxLatest|$corruptEvery|$payload"
  private def head: Long = FakeKafka.headOf(headKey, initialLatest)
  private def raise(v: Long): Unit = FakeKafka.raiseHead(headKey, v)

  /** The end fixed by [[prepareForTriggerAvailableNow]]. */
  private var availableNowEnd: Option[Map[Int, Long]] = None
  /** The head the last [[latestOffset]] call saw, for progress reports. */
  private var lastHead: Option[Map[Int, Long]] = None

  /** The head never regresses below offsets the engine already knows
    * (checkpointed start offsets arrive via [[deserializeOffset]]/[[commit]]
    * and as `latestOffset`'s start on restart): a fresh stream instance
    * re-reading `fake.latest` must not re-deliver rows a previous run
    * committed past.
    */
  private def observe(m: Map[Int, Long]): Unit =
    if (m.nonEmpty) raise(m.values.max)

  private def offsetOf(m: Map[Int, Long]): StreamOffset = new StreamOffset {
    override def json(): String =
      s"""{${m.toSeq.sortBy(_._1).map { case (p, o) => s""""$p":$o""" }.mkString(",")}}"""
  }

  private def parse(json: String): Map[Int, Long] =
    FakeKafka.fieldsToMap(new ObjectMapper().readTree(json))

  /** The current head on every partition; the log then grows by
    * `fake.advancePerBatch` up to `fake.maxLatest`.
    */
  private def advanceHead(): Map[Int, Long] = {
    val h = head
    // monotone: even a restored offset beyond this run's maxLatest config
    // must not shrink (raiseHead maxes, so the clamp can only grow the head)
    raise(math.min(maxLatest, h + advancePerBatch))
    (0 until numPartitions).map(p => p -> h).toMap
  }

  override def initialOffset(): StreamOffset = {
    val starts = Option(options.get("startingOffsets"))
      .flatMap(FakeKafka.parseOffsetJson(_, topic)).getOrElse(Map.empty[Int, Long])
    offsetOf((0 until numPartitions).map(p => p -> math.max(0L, starts.getOrElse(p, 0L))).toMap)
  }

  override def latestOffset(): StreamOffset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.fold(ReadLimit.allAvailable())(ReadLimit.maxRows)

  override def prepareForTriggerAvailableNow(): Unit = availableNowEnd = Some(advanceHead())

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val from = parse(start.json())
    observe(from)
    val latest = availableNowEnd.getOrElse(advanceHead())
    lastHead = Some(latest)
    offsetOf(limit match {
      case rows: ReadMaxRows => capped(from, latest, rows.maxRows())
      case _ => latest
    })
  }

  /** At most `limit` offsets past `from` in all, shared by the partitions
    * in proportion to their lag (a partition with any lag gets at least one).
    */
  private def capped(from: Map[Int, Long], latest: Map[Int, Long], limit: Long): Map[Int, Long] = {
    val lag = latest.map { case (p, e) => p -> math.max(0L, e - from.getOrElse(p, 0L)) }
    val total = lag.values.sum
    if (total <= limit) latest
    else latest.map { case (p, e) =>
      val share = limit.toDouble * lag(p) / total
      val s = from.getOrElse(p, 0L)
      p -> math.min(e, s + (if (share < 1) math.ceil(share) else math.floor(share)).toLong)
    }
  }

  override def reportLatestOffset(): StreamOffset = lastHead.map(offsetOf).orNull

  /** Offsets behind the head, under the Kafka connector's metric names. */
  override def metrics(latestConsumed: Optional[StreamOffset]): util.Map[String, String] =
    (for (consumed <- latestConsumed.toScala; latest <- lastHead) yield {
      val done = parse(consumed.json())
      val behind = latest.toSeq.map { case (p, e) => math.max(0L, e - done.getOrElse(p, 0L)) }
      util.Map.of(
        "minOffsetsBehindLatest", behind.min.toString,
        "maxOffsetsBehindLatest", behind.max.toString,
        "avgOffsetsBehindLatest", (behind.sum.toDouble / behind.size).toString)
    }).getOrElse(util.Map.of())

  override def deserializeOffset(json: String): StreamOffset = {
    val m = parse(json)
    observe(m)
    offsetOf(m)
  }

  override def planInputPartitions(start: StreamOffset, end: StreamOffset): Array[InputPartition] = {
    val s = parse(start.json()); val e = parse(end.json())
    (0 until numPartitions).flatMap { p =>
      val from = s.getOrElse(p, 0L); val to = e.getOrElse(p, 0L)
      if (to <= from) Nil
      else Seq(FakeKafkaPartition(topic, p, numPartitions, from, to,
        corruptEvery, payload): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new FakeKafkaReaderFactory
  override def commit(end: StreamOffset): Unit = observe(parse(end.json()))
  override def stop(): Unit = ()
}

final case class FakeKafkaPartition(topic: String, partition: Int,
    numPartitions: Int, start: Long, end: Long, corruptEvery: Long,
    payload: String = "json")
    extends InputPartition

final class FakeKafkaReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FakeKafkaPartition]
    new PartitionReader[InternalRow] {
      private var offset = p.start - 1
      override def next(): Boolean = { offset += 1; offset < p.end }
      override def get(): InternalRow =
        InternalRow(
          null, // key
          (if (p.payload == "avro")
            FakeKafka.avroPayloadFor(offset, p.partition, p.numPartitions, p.corruptEvery)
          else
            FakeKafka.payloadFor(offset, p.partition, p.numPartitions, p.corruptEvery)),
          UTF8String.fromString(p.topic),
          p.partition,
          offset,
          offset * 1000L, // timestamp micros — deterministic, unused by decode
          0)
      override def close(): Unit = ()
    }
  }
}
