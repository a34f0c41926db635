package graft.sources

import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit,
  ReportsSourceMetrics, SupportsTriggerAvailableNow}

/** DSv2 [[MicroBatchStream]] for an offset-addressed log table: wraps the
  * stream of the raw source's scan `raw` (Kafka's own connector in production,
  * [[FakeKafka]] in the sandbox — both expose the same 7-column raw frame)
  * and decodes each raw record to the table's schema at the reader with the
  * same [[FrameDecoder]] the batch scan ([[LogBatch]]) runs.
  *
  * Offset bookkeeping (initial/latest/deserialize/commit) is delegated
  * verbatim to the inner stream — the wrapper adds no state of its own, so
  * checkpoint recovery and exactly-once replay are the inner connector's
  * guarantees, unchanged. So is admission control: the inner stream must
  * be admission-controlled, support `Trigger.AvailableNow` and report
  * source metrics, as Spark's Kafka connector does (its no-argument
  * `latestOffset()` throws), and its read limit (`maxOffsetsPerTrigger`),
  * available-now end and offsets-behind-latest metrics pass through.
  * Partition planning is delegated too: one decoded partition per raw
  * partition, preserving the inner source's parallelism and locality at
  * any executor count.
  */
final class LogMicroBatchStream(
    raw: Scan,
    checkpointLocation: String,
    decoder: FrameDecoder)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val inner: MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics =
    raw.toMicroBatchStream(checkpointLocation) match {
      case s: SupportsTriggerAvailableNow with ReportsSourceMetrics => s
      case s => throw new IllegalArgumentException(
        s"${s.getClass.getName} is not an admission-controlled stream: ${raw.description()}")
    }

  /** The raw scan's own description: the offsets the stream starts from. */
  def description: String = raw.description()

  def supportedCustomMetrics: Array[CustomMetric] = DecodingReaderFactory.metrics(Seq(raw))

  override def initialOffset(): Offset = inner.initialOffset()
  override def latestOffset(): Offset = inner.latestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = inner.latestOffset(start, limit)
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def reportLatestOffset(): Offset = inner.reportLatestOffset()
  override def prepareForTriggerAvailableNow(): Unit = inner.prepareForTriggerAvailableNow()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()

  override def metrics(latestConsumed: java.util.Optional[Offset]): java.util.Map[String, String] =
    inner.metrics(latestConsumed)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    inner.planInputPartitions(start, end).map(RangePartition(0, _))

  override def createReaderFactory(): PartitionReaderFactory =
    DecodingReaderFactory(Seq(inner.createReaderFactory()), decoder)
}
