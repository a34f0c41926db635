package graft.catalog

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.{OffsetRange, OffsetRangePlanner}
import graft.sources.{EventSource, LogMicroBatchStream, OffsetAddressedSource}

/** DSv2 table for an offset-addressed event LOG (Kafka): `_offset`
  * predicates from ANY `spark.sql` query are pushed into the scan as pruned
  * [[OffsetRange]]s — the reference got this for free on every SQL query
  * from Presto's TupleDomain (`KafkaSplitManager.java:93-106`); here
  * [[GraftLogScanBuilder.pushFilters]] is that hook, with
  * [[OffsetRangePlanner]] as the filter→range translator.
  *
  * Its scan is [[GraftLogScan]], a native DSv2 batch and micro-batch scan:
  * the raw source's own scans over the pruned ranges, decoded at the
  * reader. The planner sees one scan node and optimizes the query once.
  * The engine API's Kafka reads are this table too, built without a
  * catalog (`KafkaEventSource.read`), and their scans start from the
  * source's own window. (A file-backed collection is a [[GraftFileTable]]
  * instead.)
  *
  * Pruning can only ever drop rows the predicate excludes. The scan
  * enforces its ranges in the reader; they hold exactly the rows of the
  * source's window that the filters `pushFilters` translated keep, so only
  * the untranslated filters stay residual. (A residual's per-query offset
  * bounds would land in the query's generated code and compile a new class
  * for every window.)
  */
final class GraftLogTable(
    tableName: String,
    project: String,
    collection: String,
    userSchema: StructType,
    source: OffsetAddressedSource)
    extends Table with SupportsRead {

  private val fullSchema = StructType(SystemColumns.fields ++ userSchema.fields)

  override def name(): String = tableName
  override def schema(): StructType = fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(project, collection, userSchema, fullSchema, source)
}

/** DSv2 table for a file-backed collection (metastore mode with `source` =
  * parquet | json | csv | orc): its name, schema and the source's own read.
  * It has no scan of its own. [[graft.plans.ResolveFileTables]] (installed
  * by [[graft.GraftExtensions]]) resolves it at analysis to [[read]], so
  * the query is optimized once and Catalyst pushes `_offset` predicates
  * through the system-column alias into the native file scan, on the
  * collection's offset stand-in column. A session without the extensions
  * fails loudly when it plans a scan of it.
  */
final class GraftFileTable(
    tableName: String,
    project: String,
    collection: String,
    userSchema: StructType,
    source: EventSource)
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = StructType(SystemColumns.fields ++ userSchema.fields)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** The collection's rows: the system columns, then the user fields. */
  def read(spark: SparkSession): DataFrame = source.read(spark, project, collection, userSchema)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new UnsupportedOperationException(s"$tableName is a file-backed collection: it is " +
      "read only in sessions with graft.GraftExtensions (spark.sql.extensions=graft.GraftExtensions)")
}

final class GraftLogScanBuilder(
    project: String,
    collection: String,
    userSchema: StructType,
    fullSchema: StructType,
    source: OffsetAddressedSource)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = fullSchema
  // the source's own window (the whole log unless the engine API was given
  // ranges); pushed filters narrow it
  private var ranges: Seq[OffsetRange] = source.offsetRanges
  private var accepted: Array[Filter] = Array.empty

  private val offset = ce.AttributeReference(SystemColumns.Offset, LongType, nullable = false)()

  /** Translate an `_offset`-only DSv2 filter into a typed Catalyst predicate
    * the [[OffsetRangePlanner]] understands; `None` = not an offset filter
    * (or a shape the planner can't prune) — it stays a plain residual.
    */
  private def toExpression(f: Filter): Option[ce.Expression] = {
    // integral values only: a fractional literal truncated via longValue()
    // would prune UNDER-inclusively (LessThan(_offset, 2.5) -> [0,2) drops
    // offset 2) — exactly the unsoundness the planner's cast guard exists
    // to prevent. Non-integral shapes fall through to the plain residual.
    def num(v: Any): Option[ce.Literal] = (v match {
      case n: java.lang.Long => Some(n.longValue())
      case n: java.lang.Integer => Some(n.longValue())
      case n: java.lang.Short => Some(n.longValue())
      case n: java.lang.Byte => Some(n.longValue())
      case d: java.math.BigDecimal if d.stripTrailingZeros.scale <= 0 =>
        try Some(d.longValueExact()) catch { case _: ArithmeticException => None }
      case _ => None
    }).map(ce.Literal(_))
    f match {
      case sources.EqualTo(SystemColumns.Offset, v) => num(v).map(ce.EqualTo(offset, _))
      case sources.GreaterThan(SystemColumns.Offset, v) => num(v).map(ce.GreaterThan(offset, _))
      case sources.GreaterThanOrEqual(SystemColumns.Offset, v) =>
        num(v).map(ce.GreaterThanOrEqual(offset, _))
      case sources.LessThan(SystemColumns.Offset, v) => num(v).map(ce.LessThan(offset, _))
      case sources.LessThanOrEqual(SystemColumns.Offset, v) =>
        num(v).map(ce.LessThanOrEqual(offset, _))
      case sources.In(SystemColumns.Offset, vs) =>
        val ls = vs.toSeq.map(num)
        if (ls.nonEmpty && ls.forall(_.isDefined)) Some(ce.In(offset, ls.flatten)) else None
      case sources.And(l, r) => for { a <- toExpression(l); b <- toExpression(r) } yield ce.And(a, b)
      case sources.Or(l, r) => for { a <- toExpression(l); b <- toExpression(r) } yield ce.Or(a, b)
      case _ => None
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val translated = filters.map(f => f -> toExpression(f)).collect { case (f, Some(e)) => (f, e) }
    accepted = translated.map(_._1)
    if (translated.nonEmpty) {
      // translated shapes extract exactly (no conjunct or disjunct is
      // widened), so the ranges hold exactly the rows the filters keep
      ranges = OffsetRangePlanner.normalize(OffsetRangePlanner.intersectAll(ranges,
        OffsetRangePlanner.fromExpression(translated.map(_._2).reduce(ce.And(_, _)))))
    }
    filters.filterNot(accepted.contains)
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(required: StructType): Unit = {
    // top-level columns only, at their full types: the scans produce whole
    // structs, so a nested-pruned read schema would misdescribe their rows.
    // An empty required schema (e.g. COUNT(*)) reads rows with no columns.
    val names = required.fieldNames.toSet
    requiredSchema = StructType(fullSchema.filter(f => names(f.name)))
  }

  override def build(): Scan =
    new GraftLogScan(project, collection, userSchema, requiredSchema, ranges, source)
}

/** Native DSv2 scan of an offset-addressed log: the batch is the source's
  * [[graft.sources.LogBatch]] over the pruned ranges, the stream its
  * [[graft.sources.LogMicroBatchStream]]. Both decode at the reader and
  * return only rows whose offsets lie in the ranges, so the query plan holds
  * one scan node and no per-query DataFrame.
  */
final class GraftLogScan(
    project: String,
    collection: String,
    userSchema: StructType,
    requiredSchema: StructType,
    ranges: Seq[OffsetRange],
    source: OffsetAddressedSource)
    extends Scan {

  private lazy val batch = source.batch(org.apache.spark.sql.classic.SparkSession.active,
    project, collection, userSchema, requiredSchema, ranges)

  // set when the scan is streamed (Spark does so before it plans the
  // stream's physical scan), so a stream never builds the batch
  @volatile private var stream: Option[LogMicroBatchStream] = None

  override def readSchema(): StructType = requiredSchema

  // the raw scans' descriptions carry each range's offsets and split
  // request, so plans show the pruning and the splitting
  override def description(): String =
    s"GraftLogScan $project.$collection ranges=${GraftLogScan.rangesString(ranges)} " +
      s"[${stream.fold(batch.description)(_.description)}]"

  override def toBatch: Batch = batch

  override def supportedCustomMetrics(): Array[CustomMetric] =
    stream.fold(batch.supportedCustomMetrics)(_.supportedCustomMetrics)

  /** Micro-batch streaming half of the scan (MICRO_BATCH_READ). The ranges
    * travel into the stream as a residual. Streaming scans get no
    * pushFilters pass, so they are the source's own window (the whole log
    * for a catalog table), and a caller-side `_offset` filter still
    * evaluates on the decoded rows.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val started = source.microBatchStream(org.apache.spark.sql.classic.SparkSession.active,
      project, collection, userSchema, requiredSchema, ranges, checkpointLocation)
    stream = Some(started)
    started
  }
}

object GraftLogScan {
  def rangesString(ranges: Seq[OffsetRange]): String =
    ranges.map(r => s"[${r.start},${r.end.map(_.toString).getOrElse("∞")})").mkString(",")
}
