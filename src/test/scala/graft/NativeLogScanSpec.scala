package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{FileMetastore, InMemoryMetastore, SchemaField}
import graft.functions.{AvroSchemas, GraftFunctions}
import graft.plans.{OffsetRangePlanner, ResolveFileTables}
import graft.sources.{AvroPayloadCodec, DecodingReaderFactory, FakeKafka, KafkaEventSource, RangePartition}

/** `spark.sql` over a Kafka-format log table reads through the native DSv2
  * batch scan: one `BatchScan` of `GraftLogScan`, the raw connector scans
  * per pruned range inside it, decode at the reader. Every answer is checked
  * against FakeKafka's closed form: message `o` of partition `p` has user
  * `o * P + p` (all distinct) and event type `o % 4`.
  */
class NativeLogScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType)))
  private val Partitions = 2
  private val Latest = 20000L

  /** A metastore-mode catalog over a 2-partition FakeKafka topic. */
  private def catalog(s: SparkSession, name: String, collection: String = "events",
                      payload: String = "avro",
                      extra: Map[String, String] = Map.empty): String = {
    val ms = java.nio.file.Files.createTempDirectory(s"graft-ms-$name").toString
    new FileMetastore(ms).createCollection("proj", collection, SchemaField.fromStructType(schema))
    val base = s"spark.sql.catalog.$name"
    (Map(
      "" -> "graft.catalog.GraftTableCatalog",
      ".metastore" -> ms,
      ".source" -> "kafka",
      ".bootstrap" -> "fake:9092",
      ".codec" -> payload,
      ".sourceFormat" -> "graft.sources.FakeKafka",
      ".sourcePartitions" -> Partitions.toString,
      ".source.option.fake.partitions" -> Partitions.toString,
      ".source.option.fake.latest" -> Latest.toString,
      ".source.option.fake.payload" -> payload) ++ extra)
      .foreach { case (k, v) => s.conf.set(base + k, v) }
    name
  }

  private lazy val avroCatalog = catalog(spark, "graftnative")

  /** Offsets of one partition in `ranges` (half-open, ends capped at the head). */
  private def offsets(ranges: Seq[(Long, Long)]): Seq[Long] =
    ranges.flatMap { case (s, e) => s until math.min(e, Latest) }

  /** (rows, distinct users) of a window, and its executed plan. */
  private def counts(s: SparkSession, cat: String, window: String): (Long, Long, String) = {
    val df = s.sql(s"SELECT user_id, event_type FROM $cat.proj.events WHERE $window")
    val r = df.agg(count(lit(1)), countDistinct(col("user_id"))).head()
    (r.getLong(0), r.getLong(1), df.queryExecution.executedPlan.toString)
  }

  private def batchScans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }

  private val windows: Seq[(String, Seq[(Long, Long)])] = Seq(
    "narrow" -> Seq((1000L, 3000L)),
    "wide" -> Seq((0L, 19000L)),
    "two-range OR" -> Seq((100L, 600L), (5000L, 5300L)),
    "open-ended" -> Seq((15000L, Long.MaxValue)))

  private def sqlWindow(ranges: Seq[(Long, Long)]): String = ranges.map {
    case (s, Long.MaxValue) => s"(_offset >= $s)"
    case (s, e) => s"(_offset >= $s AND _offset < $e)"
  }.mkString(" OR ")

  for ((name, ranges) <- windows) {
    test(s"$name window: exact closed-form rows and distinct users") {
      val (n, users, _) = counts(spark, avroCatalog, sqlWindow(ranges))
      val expected = offsets(ranges).size.toLong * Partitions
      assert(n == expected && users == expected, s"$n rows, $users users, want $expected")
    }
  }

  test("event types per window follow offset % 4") {
    val rows = spark.sql(s"SELECT event_type, count(*) FROM $avroCatalog.proj.events " +
      "WHERE _offset >= 1001 AND _offset < 1011 GROUP BY event_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = (1001L until 1011L).groupBy(o => FakeKafka.EventTypes((o % 4).toInt))
      .map { case (t, os) => t -> os.size.toLong * Partitions }
    assert(rows == expected)
  }

  test("a contradictory window answers empty from zero scan partitions") {
    val df = spark.sql(s"SELECT user_id FROM $avroCatalog.proj.events WHERE _offset < 0")
    assert(df.collect().isEmpty)
    val scans = batchScans(df)
    assert(scans.size == 1 && scans.head.inputPartitions.isEmpty, df.queryExecution.executedPlan)
  }

  test("count(*) reads no column: the scan enforces the window itself") {
    for ((window, n) <- Seq("WHERE _offset >= 10 AND _offset < 110" -> 100L, "" -> Latest)) {
      val df = spark.sql(s"SELECT count(*) FROM $avroCatalog.proj.events $window")
      assert(df.head().getLong(0) == n * Partitions, window)
      assert(batchScans(df).head.scan.readSchema().isEmpty, window)
    }
  }

  test("the reader keeps only the window even where the raw source reads more") {
    // offsets JSON names one partition; FakeKafka reads the other whole
    val cat = catalog(spark, "graftwider", extra = Map(".sourcePartitions" -> "1"))
    val (n, users, _) = counts(spark, cat, "_offset >= 100 AND _offset < 600")
    assert(n == 500L * Partitions && users == n)
  }

  test("offset filters the scan enforces leave no Spark-side filter; others stay") {
    val plan = spark.sql(s"SELECT user_id FROM $avroCatalog.proj.events " +
      "WHERE _offset >= 100 AND _offset < 600 AND event_type = 'view'").queryExecution.executedPlan
    val filters = collect(plan) { case f: org.apache.spark.sql.execution.FilterExec => f.condition.sql }
    assert(filters.nonEmpty && filters.forall(c => c.contains("event_type") && !c.contains("_offset")),
      plan)
  }

  test("the plan is one BatchScan of GraftLogScan: no union, V1 bridge or decode above it") {
    val (_, _, plan) = counts(spark, avroCatalog, sqlWindow(Seq((100L, 600L), (5000L, 5300L))))
    assert(plan.contains(s"BatchScan $avroCatalog.proj.events") && plan.contains("GraftLogScan"), plan)
    // both ranges' raw scans are described inside the one scan node
    assert("FakeKafkaScan".r.findAllMatchIn(plan).size == 2, plan)
    assert(!plan.contains("Union") && !plan.contains("RowDataSourceScan") &&
      !plan.contains("avro_decode"), plan)
  }

  test("a session without GraftExtensions gets the same answers") {
    def resolvesFileTables(s: SparkSession): Boolean =
      s.sessionState.analyzer.extendedResolutionRules.exists(_.isInstanceOf[ResolveFileTables])
    assert(resolvesFileTables(spark))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = try SparkSession.builder().getOrCreate() finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(plain ne spark)
    assert(!resolvesFileTables(plain))
    val cat = catalog(plain, "graftplain")
    for ((name, ranges) <- windows) {
      val w = sqlWindow(ranges)
      val (n, users, plan) = counts(plain, cat, w)
      val (n0, users0, _) = counts(spark, avroCatalog, w)
      assert(n == n0 && users == users0, name)
      assert(plan.contains("GraftLogScan"), plan)
    }
  }

  test("the decode pipeline is analyzed once for queries reading the same columns") {
    val cat = catalog(spark, "graftonce", collection = "once")
    val before = KafkaEventSource.decodeCompilations
    for (w <- Seq("_offset < 500", "_offset >= 7000 AND _offset < 9000")) {
      assert(spark.sql(s"SELECT count(DISTINCT user_id) FROM $cat.proj.once WHERE $w")
        .head().getLong(0) > 0)
    }
    assert(KafkaEventSource.decodeCompilations - before == 1)
  }

  test("reader metrics count raw records and malformed rows, batch and micro-batch") {
    val every = 7L
    def corrupt(s: Long, e: Long): Long = (s until e).count(_ % every == 0).toLong * Partitions
    for (payload <- Seq("json", "avro")) {
      val cat = catalog(spark, s"graftmetrics$payload", payload = payload,
        extra = Map(".source.option.fake.corruptEvery" -> every.toString))

      val df = spark.sql(
        s"SELECT user_id FROM $cat.proj.events WHERE _offset >= 100 AND _offset < 1100")
      assert(df.collect().length == 1000L * Partitions - corrupt(100, 1100))
      val scan = batchScans(df).head
      assert(scan.metrics("rawRecords").value == 1000L * Partitions)
      assert(scan.metrics("malformedRows").value == corrupt(100, 1100))

      val q = spark.readStream.table(s"$cat.proj.events")
        .writeStream.format("memory").queryName(s"native_metrics_$payload").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table(s"native_metrics_$payload").count() ==
          Latest * Partitions - corrupt(0, Latest))
        val micro = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.collectFirst { case m: MicroBatchScanExec => m }.get
        assert(micro.metrics("rawRecords").value == Latest * Partitions)
        assert(micro.metrics("malformedRows").value == corrupt(0, Latest))
        // the stream's own raw scan is described: it has no end offsets
        assert(micro.scan.description().contains("startingOffsets") &&
          !micro.scan.description().contains("endingOffsets"), micro.scan.description())
      } finally q.stop()
    }
  }

  test("a payload malformed only in a field the scan does not read is still dropped") {
    // user_id = 7 (union branch 1), then event_type's string branch with a
    // negative length: a full decode rejects it, a decode pruned to
    // user_id byte-skips the string without noticing
    val payload = Array[Byte](2, 14, 2, 1)
    val pruned = AvroSchemas.project(FakeKafka.avroSchema, Seq("user_id")).toString
    val alone = spark.range(1).select(lit(payload).as("v"))
      .select(GraftFunctions.from_avro(col("v"), FakeKafka.avroSchema.toString,
        pruned).as("e")).head()
    assert(!alone.isNullAt(0), "a pruned decode keeps this payload")

    val decoder = KafkaEventSource.frameDecoder(spark, "proj", "events", schema,
      StructType(Seq(schema("user_id"))), OffsetRangePlanner.Full, AvroPayloadCodec)
    val good = FakeKafka.avroPayloadFor(5L, 0, Partitions, 0L)
    val reader = DecodingReaderFactory(Seq(new RowsFactory(Seq(payload, good))), decoder)
      .createReader(RangePartition(0, NoPartition))
    val ids = Iterator.continually(reader.next()).takeWhile(identity).map(_ => reader.get().getLong(0)).toList
    assert(ids == List(FakeKafka.userIdFor(5L, 0, Partitions)))
    assert(reader.currentMetricsValues().map(m => m.name() -> m.value()).toMap ==
      Map("rawRecords" -> 2L, "malformedRows" -> 1L))
  }

  test("engine offsetWindow plans a predicate over _offset and a user field") {
    val ms = new InMemoryMetastore
    ms.createCollection("proj", "events", SchemaField.fromStructType(schema))
    val src = KafkaEventSource("fake:9092", codec = AvroPayloadCodec,
      partitionsOf = _ => Partitions,
      extraOptions = Map("fake.partitions" -> Partitions.toString,
        "fake.latest" -> Latest.toString, "fake.payload" -> "avro"),
      format = "graft.sources.FakeKafka")
    val df = new GraftEngine(spark, ms, src).offsetWindow("proj", "events",
      col("_offset") >= 100 && col("_offset") < 500 && col("event_type") === "click")
    val r = df.agg(count(lit(1)), countDistinct(col("user_id"))).head()
    val expected = (100L until 500L).count(_ % 4 == 0).toLong * Partitions
    assert(r.getLong(0) == expected && r.getLong(1) == expected)
  }
}

/** Raw Kafka frames holding the given payloads at offsets 0, 1, … */
private final class RowsFactory(payloads: Seq[Array[Byte]]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < payloads.size }
      override def get(): InternalRow = InternalRow(null, payloads(i),
        org.apache.spark.unsafe.types.UTF8String.fromString("proj_events"), 0, i.toLong, 0L, 0)
      override def close(): Unit = ()
    }
}

private object NoPartition extends InputPartition
