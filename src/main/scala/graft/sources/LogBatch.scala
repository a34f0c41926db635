package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}

/** DSv2 [[Batch]] over an offset-addressed log: the raw source's own scans,
  * one per pruned offset range (Spark's Kafka connector in production,
  * [[FakeKafka]] in tests), with every raw record decoded at the reader by
  * `decoder`, straight into the scan's output row.
  * The reference connector had the same split of work: the engine planned a
  * table handle and the connector turned offsets into splits
  * (`KafkaSplitManager.java:93-106`) and decoded in its page source
  * (`KafkaConnectorPageSource.java:298`).
  *
  * The input partitions are the ranges' raw partitions, concatenated, so
  * each range keeps the split count its scan was asked for; no ranges plan
  * no partitions.
  */
final class LogBatch(raw: Seq[Scan], decoder: FrameDecoder) extends Batch {

  private lazy val batches = raw.map(_.toBatch)

  /** The raw scans' own descriptions: the offsets and split request each
    * range was read with.
    */
  def description: String = raw.map(_.description()).mkString("; ")

  def supportedCustomMetrics: Array[CustomMetric] = DecodingReaderFactory.metrics(raw)

  override def planInputPartitions(): Array[InputPartition] =
    batches.zipWithIndex.flatMap { case (b, i) =>
      b.planInputPartitions().map(RangePartition(i, _): InputPartition)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    DecodingReaderFactory(batches.map(_.createReaderFactory()), decoder)
}

/** A raw input partition of the `range`-th raw scan. */
final case class RangePartition(range: Int, raw: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] = raw.preferredLocations()
}

/** Wraps the raw sources' reader factories (one per [[RangePartition.range]]);
  * each reader pulls raw rows and runs them through the [[FrameDecoder]],
  * dropping malformed payloads and rows outside the window. It reports the
  * raw records it read and the malformed rows it dropped as DSv2 custom
  * metrics, next to whatever the raw reader reports.
  */
final case class DecodingReaderFactory(
    raw: Seq[PartitionReaderFactory],
    decoder: FrameDecoder)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RangePartition]
    val in = raw(p.range).createReader(p.raw)
    val frames = decoder.open()
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var records = 0L
      private var malformed = 0L
      override def next(): Boolean = {
        while (in.next()) {
          records += 1
          if (!frames.decode(in.get())) malformed += 1
          else {
            val out = frames.row()
            if (out != null) { current = out; return true }
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(DecodingReaderFactory.taskMetric(RawRecordsMetric.Name, records),
          DecodingReaderFactory.taskMetric(MalformedRowsMetric.Name, malformed)) ++
          in.currentMetricsValues()
      override def close(): Unit = in.close()
    }
  }
}

object DecodingReaderFactory {
  /** The readers' own metrics and those of the raw scans they read. */
  def metrics(raw: Seq[Scan]): Array[CustomMetric] =
    (Array[CustomMetric](new RawRecordsMetric, new MalformedRowsMetric) ++
      raw.flatMap(_.supportedCustomMetrics())).distinctBy(_.name())

  private def taskMetric(metric: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = v
  }
}

final class RawRecordsMetric extends CustomSumMetric {
  override def name(): String = RawRecordsMetric.Name
  override def description(): String = "raw records read"
}

object RawRecordsMetric { val Name = "rawRecords" }

final class MalformedRowsMetric extends CustomSumMetric {
  override def name(): String = MalformedRowsMetric.Name
  override def description(): String = "malformed rows dropped"
}

object MalformedRowsMetric { val Name = "malformedRows" }
