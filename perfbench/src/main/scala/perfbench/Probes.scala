package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.storage.StorageLevel

import graft.functions.{AvroSchemas, GraftFunctions}
import graft.sources.{AvroPayloadCodec, FakeKafka, KafkaEventSource}

/** Standalone rates of the connector's layers over the full 10^6-message
  * log, each the median of [[Reps]] timed calls into the layer's public
  * functions:
  *
  *  - `sources.broker_msgs_per_s`: raw FakeKafka frames, no decode — the
  *    load generator alone;
  *  - `sources.scan_msgs_per_s`: `KafkaEventSource.read` then `count()`;
  *  - `functions.avro_decode*_msgs_per_s`: `GraftFunctions.from_avro` over
  *    payloads materialised in memory beforehand, with the full reader
  *    schema and with the reader pruned to one field.
  */
object Probes {
  val Reps = 3

  def run(spark: SparkSession): Map[String, Seq[Double]] = {
    val msgs = Log.Partitions * LogScan.Latest
    def rate(body: => Unit): Double = {
      val secs = (0 until Reps).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      msgs / secs(Reps / 2)
    }
    val source = KafkaEventSource("fake:9092", codec = AvroPayloadCodec,
      partitionsOf = _ => Log.Partitions,
      extraOptions = Map("fake.partitions" -> Log.Partitions.toString,
        "fake.latest" -> LogScan.Latest.toString, "fake.payload" -> "avro"),
      format = "graft.sources.FakeKafka")
    val broker = rate(Log.rawFrames(spark, LogScan.Latest).count())
    val scan = rate(source.read(spark, Log.Project, "events", Log.Schema).count())

    val payloads = Log.rawFrames(spark, LogScan.Latest).select(col("value"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      require(payloads.count() == msgs)
      val writer = FakeKafka.avroSchema.toString
      val oneField = AvroSchemas.project(FakeKafka.avroSchema, Seq("user_id")).toString
      val full = rate(payloads.select(GraftFunctions.from_avro(col("value"), writer).as("e"))
        .agg(max(col("e.user_id")), max(col("e.event_type"))).collect())
      val one = rate(payloads.select(GraftFunctions.from_avro(col("value"), writer, oneField).as("e"))
        .agg(max(col("e.user_id"))).collect())
      Map(
        "sources.broker_msgs_per_s" -> Seq(broker),
        "sources.scan_msgs_per_s" -> Seq(scan),
        "functions.avro_decode_msgs_per_s" -> Seq(full),
        "functions.avro_decode1_msgs_per_s" -> Seq(one))
    } finally payloads.unpersist(blocking = true)
  }
}
