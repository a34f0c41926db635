package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.SystemColumns
import graft.functions.{AvroSchemas, GraftFunctions => GF}

/** Produce/ingest side (the role the reference's test harness played:
  * `KafkaLoader.java:89-148` streamed engine rows back into Kafka as keyed
  * messages). The reference connector itself was read-only
  * (`KafkaConnector.java:83-87`); the sink is the rebuild's extension.
  *
  * Shapes a typed DataFrame into Kafka writer format: `key` = 8-byte
  * big-endian of a long key column (parity with `NumberEncoder.java:30-36`;
  * Kafka's default partitioner then spreads by key like
  * `NumberPartitioner.java:29-36` did with `key % numPartitions`),
  * `value` = Avro-encoded row under the collection's writer schema,
  * `topic` = `<project>_<collection>`.
  */
object KafkaEventSink {

  /** Kafka-writer-shaped frame: (topic, key, value). Works for both batch
    * (`.write.format("kafka")`) and streaming (`.writeStream`).
    */
  def toKafkaFrame(df: DataFrame, project: String, collection: String,
                   keyColumn: String): DataFrame = {
    val payload = df.drop(keyColumn)
    val avroSchema = AvroSchemas.toAvro(payload.schema, collection).toString
    df.select(
      lit(SystemColumns.topicFor(project, collection)).as("topic"),
      bigEndianBytes(col(keyColumn)).as("key"),
      GF.to_avro(struct(payload.columns.toIndexedSeq.map(col): _*), avroSchema).as("value"))
  }

  /** 8-byte big-endian encoding of a long — `NumberEncoder.java:30-36`.
    * hex → zero-pad to 16 → unhex, all codegen'd builtins; two's-complement
    * hex of negatives is already 16 chars.
    */
  def bigEndianBytes(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(lpad(hex(c.cast("long")), 16, "0"))
}
