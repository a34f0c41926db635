package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.catalog.FileMetastore

/** `stream_ingest`: catch-up micro-batch streams over the Avro topic, read
  * through `spark.readStream.table` (the `LogMicroBatchStream` +
  * `RowPipeline` path) into keyed update-mode state.
  *
  * Each stream reads a fresh collection whose FakeKafka head starts at
  * [[PerTrigger]] offsets and advances by as many per trigger until
  * `triggers × PerTrigger`, so every trigger delivers the same
  * `2 × PerTrigger` messages. The state is `count` and `sum(user_id)` per
  * `(user_id + keyOffset) % Keys`; after the stream drains, the state store
  * is read back and checked key by key against the closed form.
  */
final class StreamIngest(seed: Long, triggers: Int = StreamIngest.Triggers) extends Workload {
  import StreamIngest._

  private val keyOffset = new scala.util.Random(seed).nextInt(Keys).toLong
  private var dir: Path = _
  private var metastore: FileMetastore = _

  override def prepare(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    // Without the native Hadoop library, the default checkpoint manager
    // (FileContext, plus a checksum file per file) forks `chmod` and
    // `readlink` for nearly every checkpoint file, so trigger times would
    // follow the host's process spawning. Spark's FileSystem-based manager
    // renames in process; the state store and WAL still write every file.
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    val msDir = dir.resolve("metastore")
    metastore = new FileMetastore(msDir.toString)
    Seq(triggers, WarmTriggers).distinct.foreach(n =>
      Log.catalog(spark, catalogFor(n), msDir, Nil, Map(
        "latest" -> PerTrigger.toString,
        "advancePerBatch" -> PerTrigger.toString,
        "maxLatest" -> (PerTrigger * n).toString)))
  }

  override def warmup(spark: SparkSession): Unit =
    stream(spark, traced = false, keyOffset = 0L, WarmTriggers)

  override def measure(spark: SparkSession, seconds: Double, traced: Boolean,
                       minOps: Int): Ops =
    until(seconds, minOps)(() => stream(spark, traced, keyOffset, triggers))

  /** One catch-up stream, drained; its triggers are the operations. */
  private def stream(spark: SparkSession, traced: Boolean, keyOffset: Long, triggers: Int): Ops = {
    // FakeKafka's head is durable per topic, so every stream needs its own
    val collection = s"ingest_${StreamIngest.nextId()}"
    Log.addCollection(metastore, collection)
    val ckpt = dir.resolve(s"ckpt_$collection")
    val table = s"${catalogFor(triggers)}.${Log.Project}.$collection"
    def query(events: DataFrame): DataFrame = events
      .groupBy(((col("user_id") + keyOffset) % Keys).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("s"))
    val t0 = System.nanoTime()
    val agg = query(spark.readStream.table(table))
    val t1 = System.nanoTime()
    // a streaming plan is only optimized inside each trigger (booked as
    // streaming.planning_ms); the plans layer is timed on its batch twin
    val planLayers =
      if (!traced) Map.empty[String, Seq[Double]]
      else {
        val batch = query(spark.read.table(table))
        val t2 = System.nanoTime()
        batch.queryExecution.optimizedPlan
        val t3 = System.nanoTime()
        batch.queryExecution.executedPlan
        val t4 = System.nanoTime()
        Map("catalog.analyze_ms" -> Seq(ms(t0, t1)), "plans.optimize_ms" -> Seq(ms(t2, t3)),
          "plans.physical_ms" -> Seq(ms(t3, t4)), "plans.ranges" -> Seq(1.0))
      }
    val q = agg.writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.filter(_.numInputRows > 0).toVector
    val delivered = progress.map(_.numInputRows).sum
    val expectedMsgs = Log.Partitions * PerTrigger * triggers
    val ok = delivered == expectedMsgs && progress.size == triggers &&
      stateMatches(spark, ckpt, expectedMsgs, keyOffset)
    if (!ok) System.err.println(
      s"[perfbench] stream $collection wrong: ${progress.size} triggers, $delivered messages")
    Ops(progress.map(_.durationMs.get("triggerExecution").toDouble / 1000),
      delivered, if (ok) 0 else progress.size.max(1),
      if (traced) planLayers ++ streamingLayers(progress) else Map.empty)
  }

  /** The drained state, read back through Spark's state data source, equals
    * the closed form: user ids `[0, users)` arrive exactly once each.
    */
  private def stateMatches(spark: SparkSession, ckpt: Path, users: Long, keyOffset: Long): Boolean = {
    val rows = Trace.untraced(spark)(_ => spark.read.format("statestore").load(ckpt.toString)
      .select(col("key.*"), col("value.*")).collect())
    rows.length == math.min(Keys.toLong, users) && rows.forall { r =>
      val (n, s) = expectedKey(r.getLong(0), users, keyOffset)
      r.getLong(1) == n && r.getLong(2) == s
    }
  }

  private def streamingLayers(ps: Vector[StreamingQueryProgress]): Map[String, Seq[Double]] = {
    // progress reports whole milliseconds, so the per-trigger mean (one
    // sample) keeps short phases from rounding to a constant; latestOffset
    // on FakeKafka is below one millisecond and reads 0, so it is not booked
    def mean(xs: Seq[Double]): Seq[Double] = Seq(xs.sum / xs.size)
    def dur(k: String): Seq[Double] = mean(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    Map(
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_commit_ms" -> mean(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_rows" -> ps.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
      "streaming.state_mem_bytes" -> ps.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
  }
}

object StreamIngest {
  /** Distinct state keys. */
  val Keys = 100000
  /** Offsets per partition delivered by each trigger. */
  val PerTrigger = 5000L
  /** Triggers per measured stream, and per warm-up stream. */
  val Triggers = 100
  val WarmTriggers = 25

  private def catalogFor(triggers: Int): String = s"ingest$triggers"

  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private def nextId(): Int = ids.getAndIncrement()

  /** Closed form of key `k`'s (count, sum) over user ids `[0, users)`: the
    * ids `u` with `(u + keyOffset) % Keys == k` are `a, a + Keys, …` with
    * `a = (k - keyOffset) mod Keys`.
    */
  def expectedKey(k: Long, users: Long, keyOffset: Long): (Long, Long) = {
    val a = Math.floorMod(k - keyOffset, Keys.toLong)
    val n = if (a >= users) 0L else (users - 1 - a) / Keys + 1
    (n, n * a + Keys.toLong * (n * (n - 1) / 2))
  }
}
