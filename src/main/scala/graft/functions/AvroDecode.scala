package graft.functions

import org.apache.avro.Schema
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** Decode an Avro-binary payload column into a struct, with writer/reader
  * **schema resolution** and **projection pushdown** — the Spark-native
  * rebuild of the reference's `PageDatumReader` (C6), run by the engine's
  * one Avro decoder, an [[AvroReadPlan]] compiled once per expression:
  *
  *  - the reader schema may be a projection of the writer schema; the plan
  *    *byte-skips* unqueried fields without materializing them (reference
  *    `PageDatumReader.java:210-271`), so scan cost tracks queried columns,
  *    not record width — the property that matters at 100 TB (reference
  *    built its reader schema the same way,
  *    `KafkaConnectorPageSource.java:91-105`).
  *  - schema evolution: fields added to the writer are skipped; reader
  *    fields missing from the writer resolve to their defaults; renames via
  *    Avro aliases (`Schema.applyAliases`, reference `PageDatumReader.java:84`).
  *  - nullable fields are `union[null, T]`, branch chosen per datum
  *    (reference `PageDatumReader.java:127-129`).
  *  - malformed payloads decode to NULL; the caller filters them out —
  *    the reference logged + skipped (`KafkaConnectorPageSource.java:300-307`).
  *
  * Decodes straight into Catalyst `InternalRow`s (no intermediate
  * `GenericRecord`), mirroring how the reference wrote straight into page
  * builders rather than materializing row objects (`PageDatumReader.java:114-121`).
  * `CodegenFallback`: the expression body is IO-ish (varint decode over a
  * byte stream) and gains nothing from codegen; the surrounding projection
  * still codegens.
  */
case class AvroDecode(
    child: Expression,
    writerSchemaJson: String,
    readerSchemaJson: String)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val readerSchema = new Schema.Parser().parse(readerSchemaJson)

  override lazy val dataType: DataType = AvroSchemas.toSpark(readerSchema)
  override def nullable: Boolean = true
  override def prettyName: String = "avro_decode"

  @transient private lazy val plan =
    AvroReadPlan.compile(new Schema.Parser().parse(writerSchemaJson), readerSchema)

  // Per-instance cursor. Each task deserializes its own expression tree and
  // evaluates single-threaded, so plain instance reuse is safe.
  @transient private lazy val cursor = new AvroCursor

  override protected def nullSafeEval(input: Any): Any = {
    val row = new GenericInternalRow(plan.width)
    // malformed payload ⇒ NULL row; parity with the reference's
    // log-and-skip (KafkaConnectorPageSource.java:300-307)
    if (plan.read(cursor, input.asInstanceOf[Array[Byte]], row)) row else null
  }

  override protected def withNewChildInternal(newChild: Expression): AvroDecode =
    copy(child = newChild)
}
