package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.SystemColumns

/** Physical source of a collection's rows. Implementations must return a
  * DataFrame whose schema is `SystemColumns.fields ++ <user fields>` — i.e.
  * the hidden `_offset`/`project`/`collection` columns are ALWAYS present in
  * the raw read; the engine's catalog layer decides whether to project them
  * away (hidden-column semantics, SURVEY.md §1.2).
  */
trait EventSource {
  def read(spark: SparkSession, project: String, collection: String,
           schema: StructType): DataFrame
}

/** A source whose rows are addressed by log offset (Kafka). Its reads are
  * [[graft.catalog.GraftLogScan]]s: the raw source's own scans over the
  * pruned windows, decoded at the reader to `requiredSchema` (a projection
  * of system columns + user fields). `_offset` filters prune such a scan
  * (reference C3); a columnar file source instead relies on Catalyst's
  * filter pushdown into its file scan.
  */
trait OffsetAddressedSource extends EventSource {

  /** The window every scan of this source starts from; `_offset` filters
    * pushed into a scan narrow it.
    */
  def offsetRanges: Seq[graft.plans.OffsetRange]

  /** Batch read of the collection over `ranges`, returning exactly the rows
    * whose offsets lie in them; no ranges read nothing.
    */
  def batch(spark: SparkSession, project: String, collection: String,
            schema: StructType,
            requiredSchema: StructType,
            ranges: Seq[graft.plans.OffsetRange]): LogBatch

  /** Micro-batch stream of the collection from the first range's start;
    * the ranges apply as a residual on the decoded rows.
    */
  def microBatchStream(spark: SparkSession, project: String, collection: String,
                       schema: StructType,
                       requiredSchema: StructType,
                       ranges: Seq[graft.plans.OffsetRange],
                       checkpointLocation: String): LogMicroBatchStream
}

object EventSource {
  /** Shared system-column synthesis (C7): `_offset` from the collection's
    * declared offset column (the Kafka-offset stand-in) or null,
    * `project`/`collection` as constants, user fields after — used by every
    * columnar-file source.
    */
  def withSystemColumns(raw: DataFrame, project: String, collection: String,
                        schema: StructType,
                        offsetColumns: Map[String, String]): DataFrame = {
    val offset: Column = offsetColumns.get(collection) match {
      case Some(c) if raw.columns.contains(c) => col(c).cast("long")
      case _ => lit(null).cast("long")
    }
    raw.select(
      (offset.as(SystemColumns.Offset) ::
        lit(project).as(SystemColumns.Project) ::
        lit(collection).as(SystemColumns.Collection) ::
        Nil) ++ schema.fieldNames.toSeq.map(col): _*)
  }
}

/** Parquet-fixture source (test/bench path; TESTDATA.md layout
  * `<root>/<collection>.parquet`).
  *
  * System-column synthesis parity (reference
  * `KafkaConnectorPageSource.java:119-145,311-345`): `project`/`collection`
  * are constant-per-split literals (the reference's `SliceSupplier`), and
  * `_offset` is the per-row log position (the reference's `OffsetSupplier`
  * writing `messageAndOffset.offset()`). Parquet has no log offset, so each
  * collection declares an `offsetColumn` — a monotone unique BIGINT column
  * standing in for the Kafka offset. Collections without one fall back to a
  * deterministic dense id over an order column, or null.
  */
final case class ParquetEventSource(
    rootDir: String,
    offsetColumns: Map[String, String] = ParquetEventSource.defaultOffsetColumns)
    extends EventSource {

  override def read(spark: SparkSession, project: String, collection: String,
                    schema: StructType): DataFrame =
    EventSource.withSystemColumns(
      graft.Tables.load(spark, rootDir, collection),
      project, collection, schema, offsetColumns)
}

object ParquetEventSource {
  /** Fixture tables' natural offset stand-ins (unique, dense, monotone). */
  val defaultOffsetColumns: Map[String, String] = Map(
    "events"     -> "event_id",
    "documents"  -> "doc_id",
    "embeddings" -> "vec_id",
    "orders"     -> "o_orderkey",
    "customer"   -> "c_custkey",
    "supplier"   -> "s_suppkey",
    "part"       -> "p_partkey")
}
