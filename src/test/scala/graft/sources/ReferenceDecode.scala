package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.catalog.SystemColumns
import graft.functions.{AvroSchemas, GraftFunctions => GF}

/** The DataFrame decode of Kafka-shaped rows that the log readers
  * ([[KafkaEventSource.frameDecoder]]) replaced, kept as the reference the
  * reader specs compare against: each codec's payload decode as a Catalyst
  * column (null when malformed), and the table shape built over it.
  */
object ReferenceDecode {

  /** `value` bytes → the typed struct of `schema`, or null when malformed. */
  def decode(codec: PayloadCodec, value: Column, schema: StructType): Column = codec match {
    case AvroPayloadCodec =>
      GF.from_avro(value, AvroSchemas.toAvro(schema).toString)
    case JsonPayloadCodec =>
      // PERMISSIVE from_json returns an all-null struct on malformed input;
      // the corrupt-record marker tells it from a legitimate all-null record
      val corrupt = "_graft_corrupt"
      val parsed = from_json(value.cast("string"), schema.add(corrupt, StringType),
        Map("columnNameOfCorruptRecord" -> corrupt))
      when(parsed.getField(corrupt).isNull, parsed.dropFields(corrupt))
        .otherwise(lit(null).cast(schema))
  }

  /** Kafka-shaped rows (`value` binary, `offset` long) → the engine's table
    * shape: system columns first, decoded user fields after, malformed rows
    * dropped (reference `KafkaConnectorPageSource.java:300-307`).
    */
  def decodeRaw(raw: DataFrame, project: String, collection: String,
                schema: StructType, codec: PayloadCodec): DataFrame =
    raw.select(
        col("offset").cast("long").as(SystemColumns.Offset),
        lit(project).as(SystemColumns.Project),
        lit(collection).as(SystemColumns.Collection),
        decode(codec, col("value"), schema).as("__event"))
      .filter(col("__event").isNotNull)
      .select((SystemColumns.fields.map(f => col(f.name)) :+ col("__event.*")): _*)
}
