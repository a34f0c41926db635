package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.{FieldType, InMemoryMetastore, SchemaField, SystemColumns}
import graft.sources.{AvroPayloadCodec, KafkaEventSink, KafkaEventSource}

/** Live-broker smoke — the one step the sandbox can never execute
  * (`KafkaEventSource.rawScan` over the `kafka` format) run for real,
  * mirroring the reference's embedded-broker test
  * (`TestMinimalFunctionality.java:100-121`: empty count == 0, produce 1000,
  * count == 1000) plus the C3 offset pushdown the reference tested through
  * `_partition_offset` predicates.
  *
  * Needs a broker and the Kafka connector on the classpath; run via
  * `ops/kafka-smoke/smoke.sh` (docker compose broker + `spark-submit
  * --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>`).
  * Exits nonzero on the first failed assertion — CI-shaped.
  */
object KafkaSmoke {

  private val Project = "smoke"
  private val Collection = "events"

  def main(args: Array[String]): Unit = {
    val bootstrap = args.headOption.getOrElse("localhost:9092")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-kafka-smoke")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val metastore = new InMemoryMetastore
    metastore.createCollection(Project, Collection, Seq(
      SchemaField("id", FieldType.LONG),
      SchemaField("value", FieldType.STRING)))
    val source = KafkaEventSource(bootstrap, codec = AvroPayloadCodec)
    val engine = new GraftEngine(spark, metastore, source)

    var failures = 0
    def check(name: String)(body: => Unit): Unit =
      try { body; println(s"[smoke] PASS $name") }
      catch { case e: Throwable =>
        failures += 1
        println(s"[smoke] FAIL $name: ${e.getMessage}")
      }

    // TestMinimalFunctionality.testTopicHasData, first half: fresh topic
    // counts zero (and the full read path — offset JSON, decode, system
    // columns — executes against the wire without rows to hide behind).
    check("empty topic counts 0") {
      val n = engine.table(Project, Collection).count()
      assert(n == 0L, s"expected 0 rows on a fresh topic, got $n")
    }

    // Produce 1000 keyed Avro messages through the sink (the role the
    // reference's KafkaLoader.java:89-148 played), then the second half of
    // testTopicHasData: count == 1000.
    check("produce 1000, count 1000") {
      val rows = spark.range(1000).select(
        col("id"),
        concat(lit("v"), col("id")).as("value"))
      KafkaEventSink.toKafkaFrame(rows, Project, Collection, "id")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .save()
      val n = engine.table(Project, Collection).count()
      assert(n == 1000L, s"expected 1000 rows after produce, got $n")
    }

    // C3 on the wire: the offset predicate must become broker-side
    // startingOffsets/endingOffsets, not a full scan + filter. With a
    // single-partition topic the window [100, 200) is exactly 100 rows.
    check("offset window prunes broker-side") {
      val win = engine.offsetWindow(Project, Collection,
        col(SystemColumns.Offset) >= 100 && col(SystemColumns.Offset) < 200)
      val n = win.count()
      assert(n == 100L, s"expected 100 rows in offset window [100,200), got $n")
    }

    // Round-trip integrity: Avro encode (sink) -> broker -> resolve/decode
    // (source) preserves values, not just counts.
    check("payload round-trips losslessly") {
      val bad = engine.table(Project, Collection)
        .filter(col("value") =!= concat(lit("v"), col("id")))
        .count()
      assert(bad == 0L, s"$bad rows corrupted in the Avro round-trip")
    }

    // Discovery-driven SQL (beyond the reference: its listTables was empty
    // by design, KafkaMetadata.java:69-74) over the live topic.
    check("engine.sql discovers and queries the topic") {
      val viewName = SystemColumns.topicFor(Project, Collection)
      val n = engine.sql(s"SELECT count(*) AS n FROM $viewName")
        .head().getLong(0)
      assert(n == 1000L, s"expected 1000 via engine.sql, got $n")
    }

    spark.stop()
    if (failures > 0) {
      println(s"[smoke] $failures check(s) FAILED")
      sys.exit(1)
    }
    println("[smoke] all checks passed")
  }
}
