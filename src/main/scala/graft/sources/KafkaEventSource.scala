package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{GraftLogTable, SystemColumns}
import graft.functions.{AvroReadPlan, AvroSchemas}
import graft.plans.{OffsetRange, OffsetRangePlanner}

/** Payload codec of a Kafka log: how its readers decode `value` bytes
  * ([[KafkaEventSource.frameDecoder]]). The reference's live path decoded
  * Avro (`KafkaConnectorPageSource.java:298`) while its test harness
  * produced JSON (`EmbeddedKafka.java:135`, `JsonEncoder.java:34-43`); the
  * rebuild reads both.
  */
sealed trait PayloadCodec

/** Avro with the metastore's writer schema. */
case object AvroPayloadCodec extends PayloadCodec

/** JSON, parsed as PERMISSIVE `from_json`. That yields an all-null struct
  * (not null) on malformed input, which would be indistinguishable from a
  * legitimate all-null record, so a corrupt-record marker field tells them
  * apart and malformed payloads are dropped.
  */
case object JsonPayloadCodec extends PayloadCodec

/** Kafka source over `<project>_<collection>` topics (reference C2–C8).
  * Spark's Kafka connector supplies partition discovery, replica failover,
  * locality and fetch/retry (reference C2/C4/C5/O4/O6 — all engine-side
  * now); this class contributes what the reference's connector actually
  * owned. Every read — `spark.sql` and `readStream.table` through the
  * catalog, and the engine API's [[read]]/[[readStream]] — plans one
  * [[graft.catalog.GraftLogScan]] over a [[graft.catalog.GraftLogTable]]:
  *
  *  - offset windows: the scan starts from [[offsetRanges]] (the whole log
  *    for a catalog table) and narrows it by the `_offset` filters pushed
  *    into it; the pruned [[OffsetRange]]s become `startingOffsets` /
  *    `endingOffsets` JSON — the C3 pushdown. A multi-range window reads
  *    one raw scan per range (correctly, unlike the reference's
  *    overlapping-slot bug), their partitions concatenated in one
  *    [[LogBatch]] ([[batch]]).
  *  - segment-granular parallelism (C4/O3): a batch read asks the source to
  *    split each topic partition by offset range (its `minPartitions`
  *    option, Spark's analogue of one split per log segment). The request
  *    is derived from the planned window ([[KafkaEventSource.splitRequests]]):
  *    the session's leaf-scan parallelism is shared across the bounded
  *    ranges in proportion to their spans, with at least one split per
  *    topic partition and at least [[KafkaEventSource.MinSplitMessages]]
  *    messages per split. Ranges without an end, and streams, keep one
  *    split per topic partition; an explicit `minPartitions` wins.
  *  - codec decode with schema resolution + malformed-row drop (C6) and
  *    hidden system-column synthesis (C7), run once per message at the
  *    reader ([[KafkaEventSource.frameDecoder]]) with the window as a
  *    residual there: either codec's payload decodes straight into the
  *    scan's output row, Avro through an [[graft.functions.AvroReadPlan]]
  *    compiled once per collection and column set, JSON through Spark's own
  *    `from_json` parser.
  *  - buffer/timeout knobs default to the reference's
  *    (`KafkaConnectorPageSource.java:62` 1 MB fetch,
  *    `KafkaConnectorConfig.java:44-49` 64 KB socket / 10 s connect).
  *
  * Requires `spark-sql-kafka-0-10` on the cluster classpath (not bundled
  * here); tests read the same scans from [[FakeKafka]] without a broker.
  */
final case class KafkaEventSource(
    bootstrapServers: String,
    codec: PayloadCodec = AvroPayloadCodec,
    offsetRanges: Seq[OffsetRange] = OffsetRangePlanner.Full,
    partitionsOf: String => Int = _ => 1,
    minPartitions: Option[Int] = None,
    extraOptions: Map[String, String] = Map.empty,
    // the raw source format; production default is Spark's Kafka
    // connector, tests swap in [[FakeKafka]] to drive the full read path
    // (offset JSON, minPartitions, reader decode) without a broker
    format: String = "kafka")
    extends OffsetAddressedSource {

  /** Source options for one pruned offset range of a topic; carries only a
    * caller-set `minPartitions` (see [[batchOptions]] for the derived one).
    */
  def readOptions(topic: String, range: OffsetRange): Map[String, String] = {
    val (startJson, endJson) =
      OffsetRangePlanner.kafkaOffsetJson(topic, partitionsOf(topic), range)
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startJson,
      "endingOffsets" -> endJson,
      // reference parity: 1 MB fetch, 64 KB socket buffer, 10 s connect
      "kafka.fetch.max.bytes" -> "1000000",
      "kafka.receive.buffer.bytes" -> "65536",
      "kafka.request.timeout.ms" -> "10000",
      "failOnDataLoss" -> "false") ++
      minPartitions.map("minPartitions" -> _.toString) ++
      extraOptions
  }

  /** Source options for each range of a batch read of `topic`: [[readOptions]]
    * plus, unless the caller set `minPartitions`, the split request derived
    * from the planned window.
    */
  def batchOptions(spark: SparkSession, topic: String): Seq[Map[String, String]] = {
    val userSplits = minPartitions.isDefined ||
      extraOptions.keys.exists(_.equalsIgnoreCase("minPartitions"))
    val requests =
      if (userSplits) offsetRanges.map(_ => None)
      else KafkaEventSource.splitRequests(offsetRanges, partitionsOf(topic),
        KafkaEventSource.splitBudget(spark))
    offsetRanges.zip(requests).map { case (r, req) =>
      readOptions(topic, r) ++ req.map("minPartitions" -> _.toString)
    }
  }

  /** Source options of a stream: unbounded from the first range's start. The
    * broker is told no end, so no split request is derived either.
    */
  def streamOptions(topic: String, ranges: Seq[OffsetRange]): Map[String, String] =
    readOptions(topic, OffsetRange(ranges.head.start, None)) - "endingOffsets"

  /** Engine-API batch read (`GraftEngine.table`/`offsetWindow`, q41): the
    * collection's log table over [[offsetRanges]], so a filter on the result
    * narrows the scan's window like a `spark.sql` query's does. No ranges
    * read nothing.
    */
  override def read(spark: SparkSession, project: String, collection: String,
                    schema: StructType): DataFrame =
    Bridge.batchFrame(spark, table(project, collection, schema))

  /** Structured-Streaming variant (the extension the reference never had —
    * its "streaming" was repeated batch over the log, SURVEY.md §1.1): the
    * log table's micro-batch stream ([[microBatchStream]]) from the first
    * range's start, returning exactly the rows of [[offsetRanges]]; feed the
    * result to [[graft.streaming.EventStreams]] windows/sessionization. No
    * ranges fail the query when it starts.
    */
  def readStream(spark: SparkSession, project: String, collection: String,
                 schema: StructType): DataFrame =
    Bridge.streamFrame(spark, table(project, collection, schema))

  private def table(project: String, collection: String, schema: StructType): GraftLogTable =
    new GraftLogTable(SystemColumns.topicFor(project, collection), project, collection,
      schema, this)

  /** DSv2 batch of a log scan: one raw scan per range with [[batchOptions]],
    * decoded at the reader. The reader also applies the ranges as a
    * residual, so the batch returns exactly their offsets whatever the raw
    * source reads (the scan drops the translated filters from Spark's
    * residual).
    */
  override def batch(spark: SparkSession, project: String, collection: String,
                     schema: StructType,
                     requiredSchema: StructType,
                     ranges: Seq[OffsetRange]): LogBatch = {
    val topic = SystemColumns.topicFor(project, collection)
    new LogBatch(copy(offsetRanges = ranges).batchOptions(spark, topic).map(rawScan(spark, _)),
      KafkaEventSource.frameDecoder(spark, project, collection, schema, requiredSchema,
        ranges, codec))
  }

  /** DSv2 micro-batch stream of a log scan ([[readStream]], and
    * `readStream.table("graft.<project>.<collection>")`): the raw
    * source's own `MicroBatchStream` with [[streamOptions]], wrapped in a
    * [[LogMicroBatchStream]] that decodes at the reader. Streams have no
    * `endingOffsets`, so the window is a residual in the reader. Offset
    * checkpointing is the inner connector's, untouched.
    */
  override def microBatchStream(spark: SparkSession, project: String, collection: String,
                                schema: StructType,
                                requiredSchema: StructType,
                                ranges: Seq[OffsetRange],
                                checkpointLocation: String): LogMicroBatchStream = {
    val topic = SystemColumns.topicFor(project, collection)
    // a batch over no ranges reads nothing; a stream would read everything
    // from offset 0, the opposite — refuse loudly
    require(ranges.nonEmpty, s"predicate prunes every offset of $topic - nothing to stream")
    new LogMicroBatchStream(rawScan(spark, streamOptions(topic, ranges)),
      s"$checkpointLocation/raw",
      KafkaEventSource.frameDecoder(spark, project, collection, schema, requiredSchema,
        ranges, codec))
  }

  /** The raw source's own DSv2 scan for `opts`, through its `TableProvider`
    * (Spark's Kafka connector, or [[FakeKafka]] in tests).
    */
  private def rawScan(spark: SparkSession, opts: Map[String, String]): Scan = {
    val provider = KafkaEventSource.providerClass(spark, format)
      .getDeclaredConstructor().newInstance().asInstanceOf[TableProvider]
    val optMap = new CaseInsensitiveStringMap(opts.asJava)
    provider.getTable(provider.inferSchema(optMap), Array.empty[Transform],
      optMap.asCaseSensitiveMap())
      .asInstanceOf[SupportsRead].newScanBuilder(optMap).build()
  }
}

object KafkaEventSource {

  /** Fewest messages a derived split may carry: below this a task's fixed
    * cost outweighs what it reads, like the open-cost floor in Spark's own
    * file-scan split sizing. Set by a window-span × split-count sweep of
    * the FakeKafka Avro log (see CHANGES.md).
    */
  val MinSplitMessages: Long = 8192L

  /** The task budget of one batch window: Spark's leaf-scan parallelism
    * (`spark.sql.leafNodeDefaultParallelism`, by default the context's
    * `defaultParallelism`).
    */
  private def splitBudget(spark: SparkSession): Int =
    spark.conf.getOption(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM.key)
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)

  /** The `minPartitions` request for each of `ranges` (one per topic
    * partition by default, so `None` keeps that). Each bounded range gets
    * its span's share of `budget`, as whole chunks per topic partition,
    * capped so that no chunk holds fewer than [[MinSplitMessages]] offsets;
    * ranges without an end get `None`, since the log head is unknown here.
    */
  def splitRequests(ranges: Seq[OffsetRange], partitions: Int, budget: Int): Seq[Option[Int]] = {
    val boundedSpan = ranges.flatMap(r => r.end.map(_ - r.start)).sum
    ranges.map(r => r.end.map(_ - r.start).flatMap { span =>
      val share = (budget.toDouble * span / boundedSpan / partitions).toLong
      val chunks = math.min(share, span / MinSplitMessages)
      if (chunks > 1) Some((chunks * partitions).toInt) else None
    })
  }

  private val providers = new java.util.concurrent.ConcurrentHashMap[String, Class[_]]

  /** The `TableProvider` class of a source format, looked up once per format
    * (the lookup scans the classpath's registered data sources).
    */
  private def providerClass(spark: SparkSession, format: String): Class[_] =
    providers.computeIfAbsent(format,
      f => DataSource.lookupDataSource(f, spark.sessionState.conf))

  /** Most compiled decoders the decode cache keeps. */
  private val MaxDecoders = 256

  private val decodeCache =
    new java.util.LinkedHashMap[AnyRef, AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, AnyRef]): Boolean =
        size() > MaxDecoders
    }

  private val compilations = new java.util.concurrent.atomic.AtomicLong

  /** Avro read plans compiled so far in this JVM (cache misses of
    * [[frameDecoder]]).
    */
  def decodeCompilations: Long = compilations.get()

  private def cached[T <: AnyRef](key: AnyRef)(compile: => T): T =
    decodeCache.synchronized(Option(decodeCache.get(key))).getOrElse {
      compilations.incrementAndGet()
      val value = compile
      decodeCache.synchronized(decodeCache.put(key, value))
      value
    }.asInstanceOf[T]

  /** The reader-side decode of a log scan, from raw frames to rows of
    * `requiredSchema` in `ranges`, dropping a message as malformed
    * (reference `KafkaConnectorPageSource.java:300-307`) whichever columns
    * the scan reads. Neither codec analyzes anything:
    *  - Avro payloads decode through an [[AvroReadPlan]], compiled once per
    *    (collection, schema, columns) into a bounded LRU cache;
    *  - JSON payloads parse with the `from_json` evaluator of the schema plus
    *    a corrupt-record marker, under the session time zone; a payload is
    *    malformed when the parse is null or the marker is set.
    */
  def frameDecoder(spark: SparkSession, project: String, collection: String,
                   schema: StructType, requiredSchema: StructType,
                   ranges: Seq[OffsetRange], codec: PayloadCodec): FrameDecoder = {
    val columns = requiredSchema.fieldNames.toIndexedSeq
    val payload = codec match {
      case AvroPayloadCodec =>
        FrameDecoder.Avro(cached((project, collection, schema, columns)) {
          val avro = AvroSchemas.toAvro(schema)
          AvroReadPlan.compile(avro, avro, columns)
        })
      case JsonPayloadCodec =>
        val conf = spark.sessionState.conf
        val corrupt = "_graft_corrupt"
        val parser = JsonToStructsEvaluator(Map("columnNameOfCorruptRecord" -> corrupt),
          Bridge.asNullable(schema.add(corrupt, StringType)), conf.columnNameOfCorruptRecord,
          Some(conf.sessionLocalTimeZone), conf.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS))
        FrameDecoder.Json(parser, schema.length,
          columns.map(schema.fieldNames.indexOf(_)).toArray,
          requiredSchema.fields.map(_.dataType))
    }
    FrameDecoder(payload, requiredSchema, project, collection, ranges)
  }
}
