package graft

import org.apache.spark.sql.SparkSession

import graft.catalog.{FileMetastore, InMemoryMetastore, JdbcMetastore, Metastore}
import graft.sources.{AvroPayloadCodec, EventSource, JsonPayloadCodec, KafkaEventSource, PayloadCodec}

/** Engine configuration (reference C8, `KafkaConnectorConfig.java:32-117` —
  * `kafka.nodes` / connect-timeout / buffer-size / default-schema) as a
  * plain case class: no DI container, constructor injection only (the
  * reference's Guice bootstrap dissolves, SURVEY.md §3 entry point 2).
  */
final case class GraftConfig(
    /** Kafka bootstrap servers — the reference's `kafka.nodes`. */
    kafkaNodes: String = "localhost:9092",
    /** Payload codec name: "avro" (live path) or "json" (test-harness path). */
    codec: String = "avro",
    /** Metastore location: None = in-memory; Some(dir) = file-backed. */
    metastoreRoot: Option[String] = None,
    /** JDBC metastore URL (reference parity: Postgres-backed registry,
      * `MetastoreModule.java:37-42`); takes precedence over metastoreRoot.
      */
    metastoreJdbcUrl: Option[String] = None,
    /** Default project when unqualified — the reference's `kafka.default-schema`. */
    defaultProject: String = "default",
    /** Splits per batch range (reference O3); None derives them from the
      * planned offset window ([[graft.sources.KafkaEventSource.splitRequests]]).
      */
    minPartitions: Option[Int] = None) {

  def payloadCodec: PayloadCodec = codec match {
    case "avro" => AvroPayloadCodec
    case "json" => JsonPayloadCodec
    case other => throw new IllegalArgumentException(s"unknown codec: $other")
  }

  def metastore(): Metastore = (metastoreJdbcUrl, metastoreRoot) match {
    case (Some(url), _) => new JdbcMetastore(url)
    case (None, Some(dir)) => new FileMetastore(dir)
    case _ => new InMemoryMetastore
  }
}

object GraftConfig {

  /** Kafka-backed engine from config — the production wiring. */
  def kafkaEngine(spark: SparkSession, config: GraftConfig): GraftEngine = {
    val source: EventSource = KafkaEventSource(
      bootstrapServers = config.kafkaNodes,
      codec = config.payloadCodec,
      minPartitions = config.minPartitions)
    new GraftEngine(spark, config.metastore(), source)
  }
}
