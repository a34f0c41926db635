package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Appends every `StreamingQueryProgress` the session emits as one JSON
  * line to `path` — Spark's own progress JSON, which already carries the
  * per-trigger numbers the scale audit needs: `name` (the memory-sink
  * queryName, whose `sNN_` prefix identifies the registry topology),
  * `batchId`, `numInputRows`, `durationMs.triggerExecution`, and per
  * `stateOperators[]` entry `numRowsTotal` / `numRowsUpdated` /
  * `memoryUsedBytes`. This is how the second-decade streaming gate turns
  * "state is watermark-bounded by design" into measured rows/bytes per
  * topology per trigger (verdict r10 #1) — q91 proved design arguments
  * only get tested by a decade jump.
  *
  * Registered by every `Harness.session` ONLY when SPARK_GRAFT_STREAM_METRICS
  * names a file; the listener bus delivers events asynchronously, so writes are
  * serialized on a lock and the file is opened in append mode per event
  * (tens of triggers per topology — durability over buffering).
  */
final class StreamMetricsListener(path: String) extends StreamingQueryListener {
  private val lock = new Object

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Cumulative JVM GC millis + current heap, spliced into the progress
    * object as `graftGcMs` / `graftHeapUsedMb` (r14, verdict r13 #2): the
    * r13 1000x s19 wall trend had every COUNTABLE series flat (rows,
    * gets/puts, timers, iterator bytes all ~1.03x) while every TIME series
    * grew ~1.3x — per-unit-work slowdown, which Spark's progress JSON
    * cannot attribute because it carries no JVM-health series. Sampling
    * GC time per trigger makes "heap pressure accumulates over the run"
    * measurable instead of asserted (single-JVM local mode: driver and
    * executors share this MXBean view).
    */
  private def jvmHealth: String = {
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1000000L
    s""","graftGcMs":$gcMs,"graftHeapUsedMb":$heap}"""
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
    val w = new java.io.BufferedWriter(new java.io.FileWriter(path, true))
    // progress.json is one well-formed JSON object — splice the health
    // fields before its closing brace so existing top-level readers keep
    // working and new ones see graftGcMs/graftHeapUsedMb
    val j = e.progress.json.trim
    val line = if (j.endsWith("}")) j.dropRight(1) + jvmHealth else j
    try { w.write(line); w.newLine() } finally w.close()
  }
}

object StreamMetricsListener {
  /** Attach to `spark` iff the env knob is set; returns quietly otherwise
    * (the normal gate/bench path pays zero overhead). */
  def attachIfConfigured(spark: org.apache.spark.sql.SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_STREAM_METRICS").foreach { p =>
      spark.streams.addListener(new StreamMetricsListener(p))
    }
}
