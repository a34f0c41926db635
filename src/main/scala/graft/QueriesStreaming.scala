package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import NamedQuery.{decSum, sqlDecSum}
import QueriesCore.withConfs
import graft.util.Scratch

/** Streaming-mode registry entries: each runs a REAL Structured Streaming
  * query (readStream → stateful aggregation → memory sink) to completion
  * with Trigger.AvailableNow, then returns the sink table — so the driver's
  * DuckDB oracle checks the STREAMING execution path bit-exactly against
  * the equivalent batch SQL. This is the batch/stream-parity invariant
  * (StreamingSpec "reproduces the batch result exactly") promoted to the
  * correctness gate.
  *
  * Scale notes: these plans are the production shape — shuffle on
  * (window/session, key) with incremental state — not a batch shortcut; on
  * a real cluster the same code runs unbounded with a watermark bounding
  * state (EventStreams documents the late-data policy). AvailableNow is
  * the catch-up/backfill trigger a 100 TB pipeline uses to replay history
  * through the SAME streaming query it runs live.
  */
object QueriesStreaming {

  /** Stream-completion timeout (ms). 180 s covers every topology at the
    * scales the standing gates run routinely (sf0.01 / 10×); the
    * second-decade (100×) replays override via
    * SPARK_GRAFT_STREAM_TIMEOUT_MS instead of this default growing to fit
    * the largest fixture ever run — a topology that silently needed 10×
    * the budget at gate scale would be a regression worth failing on.
    */
  private val streamTimeoutMs: Long =
    sys.env.get("SPARK_GRAFT_STREAM_TIMEOUT_MS").map(_.toLong)
      .getOrElse(180000L)

  /** `spark.sql.shuffle.partitions` = `n`, scoped by
    * [[QueriesCore.withConfs]] around a stream's definition. Streaming
    * state stores carry FIXED per-partition cost every micro-batch (delta
    * file + snapshot + maintenance per
    * store; a stream-stream join runs FOUR stores per partition), so state
    * partitions are sized to key cardinality — the standard per-stream ops
    * knob, set here once at stream definition (a restarted stream keeps
    * the partitioning in its checkpoint). The fixtures have ~150 users →
    * 4 partitions for plain keyed state (~40 keys each; measured r6: the
    * per-partition per-trigger fixed cost — delta file + snapshot +
    * commit per store — outweighs parallelism at this key count, −11%
    * s-family wall vs 8, −20-30% on stream-stream joins whose FOUR
    * stores/partition quadruple that fixed cost); 8 where the state key
    * space is larger (s18's per-user window maps, s21's corpus-index
    * probe). A 100 TB stream sizes UP by the same rule (target
    * state-per-partition, e.g. thousands of partitions for billions of
    * keys). Batch entries keep the session default (= cores).
    *
    * SEQUENTIAL-ONLY: `withConfs` mutates the shared session conf and
    * restores it in `finally`, which is safe under the harness's one-query-at-a-time
    * execution (Verify/Bench/specs all run entries sequentially). If
    * concurrent query execution on one session is ever introduced, scope
    * the setting per stream instead (e.g. the SQLConf-tagged
    * `RuntimeConfig` clone or a dedicated session via `newSession()`).
    */
  private def statePartitions(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString

  /** RocksDB state store, for the state-v2 entries (see s17). */
  private val rocksDbState: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `df` (a streaming frame) to completion into a memory sink and
    * return the sink table. The sink name is derived from the fixture dir
    * so concurrent sessions on different SFs never collide; name reuse
    * after termination is fine (the temp view is replaced).
    */
  private def runToTable(s: SparkSession, name: String, df: DataFrame,
                         mode: String = "complete"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try require(q.awaitTermination(streamTimeoutMs), s"stream $name did not finish")
    finally q.stop()
    s.table(name)
  }

  private def sink(tag: String, dir: String): String =
    tag + "_" + java.lang.Integer.toHexString(dir.hashCode)

  /** Raw parquet schema per (session, path, [[Tables.pathStamp]]),
    * memoized (optimization r15): every streaming entry re-read parquet
    * footers just to seed `readStream.schema(...)` with the file's RAW
    * schema — repeated driver-side work over fixture/staging paths
    * (~30–60 ms per read).
    * Plan-level only; the streamed data is still read from the files on
    * every run. Used ONLY for stable paths (the fixture dir and the staged
    * dirs) — entries whose stage is a fresh dir per invocation read
    * directly (a memo entry for a single-use path is pure churn). The
    * stamp is in the key because a fixture rewritten in place with the
    * other `ts` vintage (see Tables.normalizeTs) must not stream with the
    * old raw schema. Entries of stopped sessions are dropped on access.
    */
  private val rawSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, (Long, Long)), org.apache.spark.sql.types.StructType]
  private def rawSchema(s: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    rawSchemaCache.keySet.removeIf(_._1.sparkContext.isStopped)
    rawSchemaCache.computeIfAbsent((s, path, Tables.pathStamp(path)),
      _ => s.read.parquet(path).schema)
  }

  /** Streaming read of the events fixture with the same ns→µs TIMESTAMP_NTZ
    * normalization Tables.load applies to the batch read (the fixture's
    * `ts` has shipped as both TIMESTAMP(NANOS) and micros across fixture
    * vintages — see Tables.normalizeTs).
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file-stream source only accepts directories: stream the fixture
    // dir with a glob restricted to the events table
    Tables.normalizeTs(
      s.readStream.schema(rawSchema(s, path))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir),
      "ts")
  }

  /** The single-file events fixture staged as `chunks` time-ranged files
    * (chunk k = k-th time slice), for a file stream reading them one per
    * micro-batch — the chunked-backfill shape: each chunk is a time slice
    * arriving in order, so watermarks advance batch-by-batch and
    * append-mode eviction happens INCREMENTALLY (mid-run emission), not
    * only in the terminal no-data batch. Range staging guarantees
    * chunk k's rows all precede chunk k+1's, so no fixture row is ever
    * late — the gate stays deterministic while the production eviction
    * path really executes (the late-DROP path is pinned separately by
    * StreamingSpec's MemoryStream tests).
    *
    * [[withStagedEventsStream]] streams straight from the dir; the restart
    * topologies (s33/s34) instead COPY its chunk files into a private live
    * dir one phase at a time. It is staged once per (fixture, chunks) in
    * the JVM's [[Scratch]] store, shared by every entry and bench pass (a
    * rewritten `events` restages). Read-only after creation — callers
    * stream from it but never write.
    */
  private[graft] def stagedDir(s: SparkSession, dir: String, chunks: Int): java.nio.file.Path =
    Scratch.staged(("events", dir, chunks), Seq(s"$dir/events.parquet")) { d =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.read.parquet(s"$dir/events.parquet")
        .repartitionByRange(chunks, col("ts"))
        .write.mode("overwrite").parquet(d.toString)
      // FileStreamSource orders files by MODIFICATION TIME, and the
      // parallel write gives all chunks near-identical mtimes — stagger
      // them along the part-file order (range partition k = k-th time
      // slice) so micro-batches really arrive in event-time order;
      // otherwise a later slice processed first advances the watermark and
      // earlier slices get dropped as late (observed: 114/145 windows)
      graft.util.Fs.listDir(d)(_.filter(_.toString.endsWith(".parquet"))
        .map(_.toString)).zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(f),
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      d
    }

  /** `filesPerTrigger` sizes the micro-batches: the default 1 gives one
    * batch per staged chunk; the heavier stateful topologies (s08, s14,
    * s32 — multi-store joins, partition-overwrite sinks) run 2 files per
    * trigger, which keeps the multi-batch property (watermarks advance
    * mid-run, state rides across triggers) at HALF the per-trigger fixed
    * cost (state-store load/commit, offset WAL, foreachBatch job launch —
    * profiled at ~1 s/trigger regardless of rows; the verdict-r6 tail cut).
    */
  private def withStagedEventsStream[T](s: SparkSession, dir: String, chunks: Int,
                                        filesPerTrigger: Int = 1)
                                       (body: DataFrame => T): T = {
    val stage = stagedDir(s, dir, chunks)
    val ev = Tables.normalizeTs(
      s.readStream.schema(rawSchema(s, stage.toString))
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(stage.toString),
      "ts")
    body(ev)
  }

  val all: Seq[NamedQuery] = Seq(

    // Daily tumbling-window stats per event_type through incremental
    // micro-batch state. window() buckets are epoch-aligned, so a 1-day
    // window start IS date_trunc('day') — the oracle replays it in batch
    // SQL. decSum keeps the double aggregation order-insensitive across
    // micro-batch merge order (same technique as the batch queries).
    NamedQuery("s01_stream_daily_stats",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val agg = eventsStream(s, dir)
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
          .select(col("window.start").cast("date").as("day"),
            col("event_type"), col("n"), col("sum_value"))
        runToTable(s, sink("s01", dir), agg)
          .orderBy(col("day"), col("event_type"))
      },
      Some(s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, ${sqlDecSum("value")} AS sum_value
             FROM events GROUP BY day, event_type ORDER BY day, event_type""")),

    // Gap-based session windows (session_window, 6h gap) — the streaming
    // twin of q46's lag+cumsum sessionization, checked against the SAME
    // relational definition: a session's end is last-event + gap. The
    // stateful operator merges sessions incrementally across micro-batches;
    // the oracle derives identical extents from the batch formulation.
    NamedQuery("s02_stream_sessions",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val agg = eventsStream(s, dir)
          .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"), col("session_window.start").as("s_start"),
            col("session_window.end").as("s_end"), col("n"))
        runToTable(s, sink("s02", dir), agg)
          .orderBy(col("user_id"), col("s_start"))
      },
      Some("""WITH e AS (
               SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
               FROM events),
             f AS (
               SELECT user_id, ts,
                      CASE WHEN prev IS NULL OR ts > prev + INTERVAL 6 HOUR
                           THEN 1 ELSE 0 END AS new_s
               FROM e),
             sess AS (
               SELECT user_id, ts,
                      sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
               FROM f)
             SELECT user_id, min(ts) AS s_start,
                    max(ts) + INTERVAL 6 HOUR AS s_end, count(*) AS n
             FROM sess GROUP BY user_id, session_id
             ORDER BY user_id, s_start""")),

    // Streaming exact dedup: dropDuplicates on the business key through
    // incremental state. Only the KEY columns are emitted (which physical
    // row survives depends on micro-batch arrival order; the key set does
    // not), so the streaming result is exactly batch DISTINCT. In
    // production the same query runs watermark-bounded
    // (dropDuplicatesWithinWatermark, EventStreams.dedupedStream) so state
    // doesn't grow with stream length; unbounded state is fine for a
    // finite backfill like this one.
    NamedQuery("s03_stream_dedup",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val dedup = eventsStream(s, dir)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
        runToTable(s, sink("s03", dir), dedup).orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_users
             FROM (SELECT DISTINCT user_id, event_type FROM events)
             GROUP BY event_type ORDER BY event_type""")),

    // Stream-stream inner join with an event-time range condition
    // (EventStreams.clickErrorJoin): each click joined to the same user's
    // errors within the hour before it. Append mode (the only mode
    // stream-stream joins support); both sides watermarked so join state
    // is bounded by watermark + range at scale. An inner join emits
    // exactly the matched pairs regardless of micro-batch cut points, so
    // the streamed result set equals the batch theta-join the oracle runs.
    NamedQuery("s04_stream_stream_join",
      (s, dir) => withConfs(s, statePartitions(4)) {
        // stream-stream watermarks require TIMESTAMP (not NTZ); the session
        // is pinned to UTC everywhere, so the NTZ→TZ→NTZ round-trip is the
        // identity on the underlying instant
        val ev = eventsStream(s, dir).withColumn("ts", col("ts").cast("timestamp"))
        val joined = graft.streaming.EventStreams.clickErrorJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "error"),
          watermark = "1 hour", windowSec = 3600L)
        runToTable(s, sink("s04", dir), joined, mode = "append")
          .select(col("user_id"),
            col("click_ts").cast("timestamp_ntz").as("click_ts"),
            col("err_ts").cast("timestamp_ntz").as("err_ts"))
          .orderBy(col("user_id"), col("click_ts"), col("err_ts"))
      },
      Some("""SELECT c.user_id AS user_id, c.ts AS click_ts, e.ts AS err_ts
             FROM events c JOIN events e
               ON e.user_id = c.user_id
              AND c.event_type = 'click' AND e.event_type = 'error'
              AND e.ts >= c.ts - INTERVAL 3600 SECONDS AND e.ts <= c.ts
             ORDER BY user_id, click_ts, err_ts""")),

    // Streaming materialized view of q51's current-state snapshot: the
    // same map-side argmax (max_by) maintained incrementally — each
    // micro-batch merges one candidate row per key into state, which is
    // exactly how a 100 TB pipeline keeps a live "latest event per user"
    // table. ts is unique per user, so the argmax is merge-order
    // independent and the result equals the batch oracle bit-for-bit.
    NamedQuery("s05_stream_latest_by_key",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val agg = eventsStream(s, dir)
          .groupBy(col("user_id"))
          .agg(max(col("ts")).as("last_ts"),
            max_by(col("event_type"), col("ts")).as("last_type"),
            max_by(col("value"), col("ts")).as("last_value"))
        runToTable(s, sink("s05", dir), agg).orderBy(col("user_id"))
      },
      Some("""SELECT user_id, max(ts) AS last_ts,
                    arg_max(event_type, ts) AS last_type,
                    arg_max(value, ts) AS last_value
             FROM events GROUP BY user_id ORDER BY user_id""")),

    // Streaming half of the Kafka source (KafkaEventSource.readStream)
    // end-to-end over FakeKafka's micro-batch stream — the streaming twin
    // of q41's batch scan. The log head starts at 2000 and grows 2000
    // offsets per micro-batch to 8000, so the run REALLY progresses through
    // four micro-batches (start-offset handoff, per-batch offset planning,
    // commit); the broker only receives the coarse start offset 1000, and
    // the reader applies the pruned multi-range window
    // [1000,3000)∪[5000,6000) as a residual while it decodes; offsets
    // divisible by 500 carry garbage payloads and must drop in-flight (C6
    // malformed semantics on the streaming path). Content is a closed-form
    // function of (partition, offset), so DuckDB replays the whole thing
    // with generate_series. sum(user_id) stands in for q41's
    // countDistinct — distinct aggregation is unsupported in streaming, and
    // user_id is injective in (offset, partition) anyway. Driven by
    // processAllAvailable (not AvailableNow) so the growing head is chased
    // to quiescence — the live-topic catch-up shape.
    NamedQuery("s06_stream_kafka_log",
      (s, dir) => withConfs(s, statePartitions(4)) {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("user_id", LongType),
          StructField("event_type", StringType)))
        val src = graft.sources.KafkaEventSource("fake:9092",
          codec = graft.sources.JsonPayloadCodec,
          offsetRanges = Seq(
            graft.plans.OffsetRange(1000, Some(3000)),
            graft.plans.OffsetRange(5000, Some(6000))),
          partitionsOf = _ => 2,
          extraOptions = Map(
            "fake.partitions" -> "2",
            "fake.latest" -> "2000",
            "fake.advancePerBatch" -> "2000",
            "fake.maxLatest" -> "8000",
            "fake.corruptEvery" -> "500"),
          format = "graft.sources.FakeKafka")
        val agg = src.readStream(s, "tpch", "events", schema)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"),
            min(col("_offset")).as("min_off"), max(col("_offset")).as("max_off"))
        val name = sink("s06", dir)
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        s.table(name).orderBy(col("event_type"))
      },
      Some("""WITH offs AS (
               SELECT unnest(generate_series(1000, 2999)) AS o
               UNION ALL
               SELECT unnest(generate_series(5000, 5999)) AS o),
             parts AS (SELECT unnest(generate_series(0, 1)) AS p),
             rows AS (
               SELECT o, p,
                      (['click','view','purchase','scroll'])[(o % 4) + 1] AS event_type,
                      o * 2 + p AS user_id
               FROM offs CROSS JOIN parts
               WHERE o % 500 <> 0)
             SELECT event_type, count(*) AS n,
                    CAST(sum(user_id) AS BIGINT) AS sum_uid,
                    min(o) AS min_off, max(o) AS max_off
             FROM rows GROUP BY event_type ORDER BY event_type""")),

    // Custom per-key session state via flatMapGroupsWithState (the
    // KeyValueGroupedDataset state API s02's built-in session_window can't
    // replace: arbitrary per-session aggregates, explicit event-time
    // timeouts). Sessions (6 h gap) emit in Append mode exactly once —
    // mid-run when a later event closes them, or by EVENT-TIME TIMEOUT in
    // the engine's watermark-advancing no-data batch after the last file
    // batch. The oracle replays the same semantics in batch SQL: gap-split
    // sessions per user on epoch-ms (java.sql.Timestamp.getTime floors µs
    // to ms — epoch_ms does the same), everything but each user's open
    // tail emits, and the tail emits iff its timeout (last event + gap)
    // fell strictly below the final watermark (global max event ms - 1 h)
    // — FlatMapGroupsWithStateExec's strict-< eviction predicate.
    // total_value is deliberately NOT an output column: per-session double
    // accumulation order is tie-dependent; counts and ms bounds are exact.
    NamedQuery("s07_stream_custom_sessions",
      (s, dir) => withConfs(s, statePartitions(4)) {
        import s.implicits._
        val gapMs = 6L * 3600 * 1000
        val ev = eventsStream(s, dir)
          .select(col("user_id"), col("event_type"),
            col("ts").cast("timestamp").as("ts"), col("value"))
          .as[graft.streaming.EventStreams.Event]
        val sessions = graft.streaming.EventStreams
          .sessionize(ev, gapMs = gapMs, watermark = "1 hour")
        runToTable(s, sink("s07", dir), sessions.toDF(), mode = "append")
          .select(col("user_id"), col("start").as("s_start"),
            col("end").as("s_end"), col("n_events"))
          .orderBy(col("user_id"), col("s_start"))
      },
      Some("""WITH e AS (
               SELECT user_id, epoch_ms(ts) AS ms FROM events),
             marked AS (
               SELECT user_id, ms,
                      CASE WHEN lag(ms) OVER w IS NULL
                           OR ms - lag(ms) OVER w > 21600000 THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
             sess AS (
               SELECT user_id, ms,
                      sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
                        ROWS UNBOUNDED PRECEDING) AS sid
               FROM marked),
             agg AS (
               SELECT user_id, sid, min(ms) AS sms, max(ms) AS ems,
                      count(*) AS n_events
               FROM sess GROUP BY user_id, sid),
             tail AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id),
             wm AS (SELECT max(ms) - 3600000 AS w FROM e)
             SELECT user_id, make_timestamp(sms * 1000) AS s_start,
                    make_timestamp(ems * 1000) AS s_end, n_events
             FROM agg JOIN tail USING (user_id), wm
             WHERE sid < last_sid OR ems + 21600000 < w
             ORDER BY user_id, s_start""")),

    // The PRODUCTION sink path: every other streaming entry lands in the
    // memory-sink test harness; s08 drives foreachBatch → parquet with
    // INCREMENTAL partition overwrite — the streaming-materialized-view
    // shape a 100 TB pipeline actually ships. The fixture is staged as 4
    // time-ranged files and streamed 2 per trigger, so the run REALLY
    // progresses through multiple micro-batches (per-trigger fixed cost
    // halved vs 1-file triggers — see withStagedEventsStream); the
    // aggregation is q53's
    // hopping window (1 day, slide 12 h) maintained incrementally in UPDATE
    // mode, so each micro-batch's foreachBatch sees ONLY the (window, key)
    // groups that changed — each row the complete current aggregate for
    // its group — and dynamic partition overwrite keyed by
    // (w_sec, event_type) replaces exactly the touched partitions, leaving
    // the rest of the table untouched. That is the upsert-by-partition
    // discipline that makes a continuously-maintained 100 TB table
    // affordable (a complete-mode rewrite grows with TABLE size; this
    // write grows with BATCH-touched keys). decSum keeps the double sum
    // invariant across micro-batch merge order; the FILE output is read
    // back as the query result, so the oracle gate checks the whole loop:
    // incremental state → partition-overwrite sink → re-read. Scratch dirs
    // are per-invocation (Scratch.withDir) and deleted after the
    // read-back is materialized, so concurrent runs can never clobber or
    // replay each other's output.
    NamedQuery("s08_stream_foreachbatch_sink",
      (s, dir) => withConfs(s, statePartitions(2)) {
        Scratch.withDir("graft_s08_out_", inMemory = true) { outDir =>
          withStagedEventsStream(s, dir, 4, filesPerTrigger = 2) { ev =>
            // hopping 2-day windows on a 1-day slide (2 hops/row): the same
            // window family as q53 with half the per-row fan-out — the sink
            // loop is what s08 demonstrates; per-batch partition-commit cost
            // scales with touched (window, type) dirs, so the slide is sized
            // to keep the fixture's dir count proportionate (~155 dirs at
            // sf0.1 — profiled: parquet writer INIT, not bytes, is the unit
            // of sink cost at fixture scale, so dir count is the knob; the
            // mechanism — update-mode changed groups, dynamic overwrite of
            // exactly the touched (window, type) dirs across ≥2 micro-batches
            // — is unchanged, and at 100 TB dirs hold MBs and init amortizes)
            val agg = ev
              .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
              .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
              // partition key as epoch seconds: directory-name-stable, and
              // session is UTC-pinned so ntz→tz is the identity instant
              .select(unix_timestamp(col("window.start").cast("timestamp")).as("w_sec"),
                col("event_type"), col("n"), col("sum_value"))
            // explicit function type: foreachBatch is overloaded (Scala
            // function vs Java VoidFunction2) and a bare lambda is ambiguous.
            // ONE action per trigger, no emptiness probe: the write is the
            // only action, so the micro-batch plan executes exactly once —
            // an UNGUARDED dynamic overwrite of an empty changed-group set
            // touches zero partitions (no-op commit), so the empty-trigger
            // case (AvailableNow's terminal catch-up batch on a quiet live
            // stream) costs one empty job, cheaper than the persist +
            // isEmpty probe every DATA trigger paid to skip it (profiled:
            // the probe was a net loss at any batch:empty ratio ≥ 1).
            val writeBatch: (DataFrame, Long) => Unit = (batch, _) =>
              batch
                // decouple WRITE parallelism from state sizing: the state
                // shuffle runs at 4 partitions (sized to key count), so the
                // sink would write ~80 one-file partition dirs from 4
                // sequential tasks; parquet writer init is the unit of cost
                // here and it parallelizes — spread groups over 16 writers
                .repartition(16, col("w_sec"), col("event_type"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                // commit-protocol trims, propagated per-write via
                // newHadoopConfWithOptions: v2 commits task files straight
                // to their final dirs (no sequential job-commit rename
                // sweep over every touched partition), and the _SUCCESS
                // marker is dead weight for a sink re-read each trigger
                .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .option("compression", "none")
              
                .partitionBy("w_sec", "event_type")
                .parquet(outDir.toString)
            val q = agg.writeStream.queryName(sink("s08", dir))
              .outputMode("update").trigger(Trigger.AvailableNow())
              .foreachBatch(writeBatch)
              .start()
            try require(q.awaitTermination(streamTimeoutMs), "stream s08 did not finish")
            finally q.stop()
            // materialize the read-back (localCheckpoint pins the rows in the
            // block manager) so the scratch dirs can be deleted immediately.
            // Explicit schema: the table spans ~300 one-row-group files, so
            // letting the reader infer schema from footers adds a
            // planning-time sweep over every file; the layout is ours
            // (partition dirs w_sec/event_type over data cols n, sum_value)
            val readSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("sum_value", org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("w_sec", org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
            s.read.schema(readSchema).parquet(outDir.toString)
              .select(timestamp_seconds(col("w_sec").cast("long"))
                .cast("timestamp_ntz").as("w_start"),
                col("event_type"), col("n"), col("sum_value"))
              .localCheckpoint()
              .orderBy(col("w_start"), col("event_type"))
          }
        }
      },
      Some(s"""WITH wins AS (
               SELECT event_type, value,
                      TIMESTAMP '1970-01-01 00:00:00' +
                        (CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400
                         - i * 86400) * INTERVAL 1 SECOND AS w_start
               FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i))
             SELECT w_start, event_type, count(*) AS n,
                    ${sqlDecSum("value")} AS sum_value
             FROM wins GROUP BY 1, 2 ORDER BY 1, 2""")),

    // The full spark.sql STREAMING naming surface: spark.readStream.table
    // over the DSv2 catalog (metastore-mode GraftLogTable, source=kafka
    // with FakeKafka swapped in) — the round-4 gap where GraftLogTable had
    // no MicroBatchStream and streaming required the engine API. The scan
    // decodes AT THE READER with the same FrameDecoder as the batch scan
    // (JSON parsed by Spark's from_json straight into the scan's row;
    // malformed payloads drop in-flight), offset bookkeeping is the raw connector's
    // own (checkpoint/replay untouched), and the head grows 1500 offsets
    // per micro-batch to 6000 so the run REALLY progresses through four
    // micro-batches chased to quiescence by processAllAvailable. The
    // caller-side `_offset` window filter evaluates on the decoded stream
    // (streaming scans get no pushFilters pass — at a real broker the
    // coarse start offset still prunes, via startingOffsets). Content is
    // the same closed-form (partition, offset) log as s06, replayed by the
    // oracle with generate_series.
    NamedQuery("s09_stream_dsv2_microbatch",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val tag = java.util.UUID
          .nameUUIDFromBytes(s"s09:$dir".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .toString.replace("-", "").take(12)
        val cat = s"graftstream_$tag"
        val msDir = s"/tmp/graft_ms_$tag"
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("user_id", LongType),
          StructField("event_type", StringType)))
        new graft.catalog.FileMetastore(msDir).createCollection("tpch", "events",
          graft.catalog.SchemaField.fromStructType(schema))
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftTableCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.metastore", msDir)
        s.conf.set(s"spark.sql.catalog.$cat.source", "kafka")
        s.conf.set(s"spark.sql.catalog.$cat.bootstrap", "fake:9092")
        s.conf.set(s"spark.sql.catalog.$cat.codec", "json")
        s.conf.set(s"spark.sql.catalog.$cat.sourceFormat", "graft.sources.FakeKafka")
        s.conf.set(s"spark.sql.catalog.$cat.sourcePartitions", "2")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.partitions", "2")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.latest", "1500")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.advancePerBatch", "1500")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.maxLatest", "6000")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.corruptEvery", "400")
        val agg = s.readStream.table(s"$cat.tpch.events")
          .filter(col("_offset") >= 500 && col("_offset") < 5500)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"),
            min(col("_offset")).as("min_off"), max(col("_offset")).as("max_off"))
        val name = sink("s09", dir)
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        s.table(name).orderBy(col("event_type"))
      },
      Some("""WITH offs AS (
               SELECT unnest(generate_series(500, 5499)) AS o),
             parts AS (SELECT unnest(generate_series(0, 1)) AS p),
             rows AS (
               SELECT o, p,
                      (['click','view','purchase','scroll'])[(o % 4) + 1] AS event_type,
                      o * 2 + p AS user_id
               FROM offs CROSS JOIN parts
               WHERE o % 400 <> 0)
             SELECT event_type, count(*) AS n,
                    CAST(sum(user_id) AS BIGINT) AS sum_uid,
                    min(o) AS min_off, max(o) AS max_off
             FROM rows GROUP BY event_type ORDER BY event_type""")),

    // s01's PRODUCTION twin: the same daily tumbling aggregation in APPEND
    // mode with a 1-hour watermark — the unbounded-stream shape where
    // state is BOUNDED (a window's state is evicted the moment the
    // watermark passes its end) instead of growing with stream length as
    // complete mode's does. Four time-ranged chunks advance the watermark
    // batch-by-batch, so windows finalize and emit MID-RUN (real
    // incremental eviction), and the final no-data batch flushes the rest;
    // windows still open at end-of-input (end > final watermark =
    // max event ms - 1 h) never emit — the oracle replays exactly that
    // cutoff, [StateStoreSaveExec]'s non-strict `end <= watermark`
    // eviction predicate on ms-floored event time.
    NamedQuery("s10_stream_tumbling_append",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 4, filesPerTrigger = 2) { ev =>
          val agg = ev
            .withColumn("ts", col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
            .select(col("window.start").cast("date").as("day"),
              col("event_type"), col("n"), col("sum_value"))
          // memory-sink table is already driver-resident — no dependency on
          // the staged dir survives the helper's cleanup
          runToTable(s, sink("s10", dir), agg, mode = "append")
            .orderBy(col("day"), col("event_type"))
        }
      },
      Some(s"""WITH wm AS (
               SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wus FROM events)
             SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                    count(*) AS n, ${sqlDecSum("value")} AS sum_value
             FROM events, wm
             GROUP BY day, event_type
             HAVING epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) <= any_value(wm.wus)
             ORDER BY day, event_type""")),

    // s02's PRODUCTION twin: gap-based session windows in APPEND mode with
    // a 1-hour watermark — sessions merge incrementally in state and emit
    // exactly once when the watermark passes their end (last event + gap);
    // each user's open tail session at end-of-input emits only if its end
    // cleared the final watermark. State is bounded by active sessions
    // inside the watermark horizon — the only session shape that survives
    // an unbounded 100 TB stream. Oracle: s02's relational sessionization
    // restricted to the same `end <= watermark` cutoff on ms-floored time.
    NamedQuery("s11_stream_sessions_append",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 4, filesPerTrigger = 2) { ev =>
          val agg = ev
            .withColumn("ts", col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
            .agg(count(lit(1)).as("n"))
            .select(col("user_id"),
              col("session_window.start").cast("timestamp_ntz").as("s_start"),
              col("session_window.end").cast("timestamp_ntz").as("s_end"), col("n"))
          runToTable(s, sink("s11", dir), agg, mode = "append")
            .orderBy(col("user_id"), col("s_start"))
        }
      },
      Some("""WITH e AS (
               SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
               FROM events),
             f AS (
               SELECT user_id, ts,
                      CASE WHEN prev IS NULL OR ts > prev + INTERVAL 6 HOUR
                           THEN 1 ELSE 0 END AS new_s
               FROM e),
             sess AS (
               SELECT user_id, ts,
                      sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
               FROM f),
             wm AS (
               SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wus FROM events)
             SELECT user_id, min(ts) AS s_start,
                    max(ts) + INTERVAL 6 HOUR AS s_end, count(*) AS n
             FROM sess, wm GROUP BY user_id, session_id
             HAVING epoch_us(max(ts) + INTERVAL 6 HOUR) <= any_value(wm.wus)
             ORDER BY user_id, s_start""")),

    // s09's PRODUCTION-CODEC twin: the same DSv2 spark.readStream.table
    // path decoding AVRO payloads — the reference's live wire format
    // (KafkaConnectorPageSource.java:298; its test harness only ever
    // produced JSON, so this goes one further). FakeKafka now writes
    // binary Avro through the SAME AvroSchemas.toAvro schema the decode
    // side derives from the metastore, and the reader decodes it with an
    // AvroReadPlan straight into the scan's row (writer/reader resolution,
    // C6 malformed-drop: every 300th offset is garbage bytes and must
    // vanish in-flight). Static head → the whole window arrives in one
    // micro-batch (multi-batch cadence is s09's job); the caller-side
    // `_offset` window filter evaluates on the decoded stream.
    NamedQuery("s12_stream_dsv2_avro",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val tag = java.util.UUID
          .nameUUIDFromBytes(s"s12:$dir".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .toString.replace("-", "").take(12)
        val cat = s"graftstream_$tag"
        val msDir = s"/tmp/graft_ms_$tag"
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("user_id", LongType),
          StructField("event_type", StringType)))
        new graft.catalog.FileMetastore(msDir).createCollection("tpch", "events",
          graft.catalog.SchemaField.fromStructType(schema))
        s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftTableCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.metastore", msDir)
        s.conf.set(s"spark.sql.catalog.$cat.source", "kafka")
        s.conf.set(s"spark.sql.catalog.$cat.bootstrap", "fake:9092")
        s.conf.set(s"spark.sql.catalog.$cat.codec", "avro")
        s.conf.set(s"spark.sql.catalog.$cat.sourceFormat", "graft.sources.FakeKafka")
        s.conf.set(s"spark.sql.catalog.$cat.sourcePartitions", "2")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.partitions", "2")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.latest", "4000")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.corruptEvery", "300")
        s.conf.set(s"spark.sql.catalog.$cat.source.option.fake.payload", "avro")
        val agg = s.readStream.table(s"$cat.tpch.events")
          .filter(col("_offset") >= 250 && col("_offset") < 3750)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"),
            min(col("_offset")).as("min_off"), max(col("_offset")).as("max_off"))
        val name = sink("s12", dir)
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        s.table(name).orderBy(col("event_type"))
      },
      Some("""WITH offs AS (
               SELECT unnest(generate_series(250, 3749)) AS o),
             parts AS (SELECT unnest(generate_series(0, 1)) AS p),
             rows AS (
               SELECT o, p,
                      (['click','view','purchase','scroll'])[(o % 4) + 1] AS event_type,
                      o * 2 + p AS user_id
               FROM offs CROSS JOIN parts
               WHERE o % 300 <> 0)
             SELECT event_type, count(*) AS n,
                    CAST(sum(user_id) AS BIGINT) AS sum_uid,
                    min(o) AS min_off, max(o) AS max_off
             FROM rows GROUP BY event_type ORDER BY event_type""")),

    // s04's PRODUCTION twin: stream-stream LEFT OUTER join. Matched pairs
    // emit like the inner join; an UNMATCHED click emits null-padded only
    // when its join-state row is evicted. Eviction is governed by the
    // state-watermark predicate, which subtracts the range SPAN from the
    // condition (click_ts − err_ts ∈ [0, 3600 s] ⇒ left state watermark =
    // watermark − 3600 s) — null rows at or below that horizon are
    // GUARANTEED out; whether clicks in the last band (wm − span, wm] also
    // flush depends on terminal-batch timing (both behaviors observed
    // across fixture scales — Spark emitted the band at sf0.1 and held it
    // at sf0.01). So the gate pins the deterministic region: ALL matched
    // pairs (exact at every scale — time-ordered chunks mean a needed
    // error is never evicted before its click arrives) plus null-padded
    // rows ≤ wm − span, with the ambiguous band filtered AFTER the run
    // (batch post-filter on the sink — the stream itself is untouched).
    // The staged chunks advance the watermark batch-by-batch, so null
    // rows emit INCREMENTALLY mid-run; unmatched clicks inside the final
    // horizon stay in state forever — exactly what an unbounded production
    // stream would do. Oracle replays the ms-floored cutoff (s10's rule).
    NamedQuery("s14_stream_outer_join",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 4, filesPerTrigger = 2) { ev0 =>
          // The join's effective watermark is the MIN over the two sides,
          // and EACH SIDE TRACKS ONLY ITS OWN ROWS: even with
          // withWatermark placed before the event-type split, the
          // optimizer pushes the filter below the watermark node, so the
          // click side's max is the last CLICK and the error side's the
          // last ERROR (instrumented: the sf0.001 terminal batch ran at
          // wm = max click ts − 1 h, hours before max event ts). A quiet
          // side therefore stalls eviction for both — the production
          // lesson this entry pins; the cutoffs below use
          // min(max click, max error) accordingly.
          val ev = ev0.withColumn("ts", col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
          val c = ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("click_ts"))
          val e = ev.filter(col("event_type") === "error")
            .select(col("user_id").as("e_user"), col("ts").as("err_ts"))
          val j = c.join(e,
            col("user_id") === col("e_user")
              && col("err_ts") >= col("click_ts") - expr("INTERVAL 3600 SECONDS")
              && col("err_ts") <= col("click_ts"),
            "left_outer")
            .select(col("user_id"), col("click_ts"), col("err_ts"))
          // deterministic-region cutoff: floor_ms(min over sides of that
          // side's max ts) − watermark − span, from the batch table AFTER
          // the stream finished (gate-only determinism; production has no
          // such cutoff — it just keeps running)
          val maxUs = Tables.load(s, dir, "events")
            .filter(col("event_type").isin("click", "error"))
            .groupBy(col("event_type"))
            .agg(max(unix_micros(col("ts").cast("timestamp"))).as("mx"))
            .agg(min(col("mx"))).head().getLong(0)
          val cutoffUs = (maxUs / 1000 - 3600000L - 3600000L) * 1000
          runToTable(s, sink("s14", dir), j, mode = "append")
            .filter(col("err_ts").isNotNull ||
              unix_micros(col("click_ts")) <= cutoffUs)
            .select(col("user_id"),
              col("click_ts").cast("timestamp_ntz").as("click_ts"),
              col("err_ts").cast("timestamp_ntz").as("err_ts"))
            .orderBy(col("user_id"), col("click_ts"), col("err_ts"))
        }
      },
      Some("""WITH wm AS (
               SELECT (epoch_ms(least(
                        (SELECT max(ts) FROM events WHERE event_type = 'click'),
                        (SELECT max(ts) FROM events WHERE event_type = 'error')))
                       - 3600000) * 1000 AS wus FROM events LIMIT 1),
             matched AS (
               SELECT c.user_id, c.ts AS click_ts, e.ts AS err_ts
               FROM events c JOIN events e
                 ON e.user_id = c.user_id
                AND c.event_type = 'click' AND e.event_type = 'error'
                AND e.ts >= c.ts - INTERVAL 3600 SECONDS AND e.ts <= c.ts),
             unmatched AS (
               SELECT c.user_id, c.ts AS click_ts,
                      CAST(NULL AS TIMESTAMP) AS err_ts
               FROM events c, wm
               WHERE c.event_type = 'click'
                 AND NOT EXISTS (
                   SELECT 1 FROM events e
                   WHERE e.user_id = c.user_id AND e.event_type = 'error'
                     AND e.ts >= c.ts - INTERVAL 3600 SECONDS AND e.ts <= c.ts)
                 AND epoch_us(c.ts) <= wm.wus - 3600000000)
             SELECT user_id, click_ts, err_ts FROM matched
             UNION ALL
             SELECT user_id, click_ts, err_ts FROM unmatched
             ORDER BY user_id, click_ts, err_ts""")),

    // Stream-static enrichment: the event stream broadcast-joined to a
    // BATCH dimension table per micro-batch, then rolled up per nation.
    // The production staple — enrich clickstream with the customer dim
    // before aggregating. Scale semantics: a stream-static join keeps NO
    // join state (each micro-batch re-joins against the static side; only
    // the downstream agg is stateful), and the broadcast means the stream
    // never shuffles for the join — at 100 TB/day the dim broadcast is
    // refreshed by stream restart (or a Delta-style CDC dim for true
    // slowly-changing joins). The join is on the dim's key, every event
    // matches (FK-complete fixture), and the rollup is merge-order-free.
    NamedQuery("s13_stream_static_enrichment",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val dim = broadcast(Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")))
        val agg = eventsStream(s, dir)
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy(col("c_nationkey"), col("event_type"))
          .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
        runToTable(s, sink("s13", dir), agg)
          .orderBy(col("c_nationkey"), col("event_type"))
      },
      Some(s"""SELECT c.c_nationkey, e.event_type, count(*) AS n,
             ${sqlDecSum("e.value")} AS sum_value
             FROM events e JOIN customer c ON e.user_id = c.c_custkey
             GROUP BY 1, 2 ORDER BY c_nationkey, event_type""")),

    // s01's UPDATE-MODE twin: the live-dashboard sink shape. Update mode
    // emits, per micro-batch, ONLY the (day, type) groups that batch
    // touched — the foreachBatch upsert a real dashboard runs — so sink
    // traffic per trigger is O(touched keys), not O(all keys) as in
    // complete mode. The run captures every update row with its batch id,
    // reconstructs the final table as each key's LAST update (max_by on
    // batch id — at most one emission per key per batch, so no ties), and
    // REQUIREs the touched-keys discipline: total emitted rows stay within
    // chunk-boundary overlap of the key count (time-ranged chunks touch
    // disjoint day ranges except at the ≤3 boundary days), where complete
    // mode would have emitted ~2.5× (every key seen so far, every batch).
    // Scale: per-trigger sink write is bounded by data arrival, not by
    // accumulated state — the property that keeps a year-old dashboard's
    // refresh cost flat. State itself is bounded by adding a watermark
    // (s10 gates that path); update mode without one suits a finite
    // backfill or a keyed table whose key space is the bound.
    NamedQuery("s15_stream_update_mode",
      (s, dir) => withConfs(s, statePartitions(4)) {
        Scratch.withDir("graft_s15_out_") { outDir =>
          withStagedEventsStream(s, dir, 4) { ev =>
            val agg = ev
              .groupBy(window(col("ts"), "1 day"), col("event_type"))
              .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
              .select(col("window.start").cast("date").as("day"),
                col("event_type"), col("n"), col("sum_value"))
            val writeBatch: (DataFrame, Long) => Unit = (batch, bid) =>
              batch.withColumn("batch_id", lit(bid))
                .write.mode("append").parquet(outDir.toString)
            val q = agg.writeStream.queryName(sink("s15", dir))
              .outputMode("update").trigger(Trigger.AvailableNow())
              .foreachBatch(writeBatch)
              .start()
            try require(q.awaitTermination(streamTimeoutMs), "stream s15 did not finish")
            finally q.stop()
            val updates = s.read.parquet(outDir.toString).localCheckpoint()
            val finals = updates
              .groupBy(col("day"), col("event_type"))
              .agg(max_by(struct(col("n"), col("sum_value")), col("batch_id"))
                .as("last"))
              .select(col("day"), col("event_type"),
                col("last.n").as("n"), col("last.sum_value").as("sum_value"))
              .localCheckpoint()
            val emitted = updates.count()
            val keys = finals.count()
            require(emitted < 1.5 * keys,
              s"update mode re-emitted untouched keys: $emitted updates for $keys keys")
            finals.orderBy(col("day"), col("event_type"))
          }
        }
      },
      Some(s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, ${sqlDecSum("value")} AS sum_value
             FROM events GROUP BY day, event_type ORDER BY day, event_type""")),

    // CHAINED stateful operators: a 6-hour tumbling count per type feeding
    // a SECOND windowed aggregation (daily total + peak 6h bucket) in one
    // streaming query — the multi-level rollup every metrics pipeline
    // needs, runnable since Spark supports multiple stateful operators in
    // append mode. window_time() re-exposes the first aggregate's window
    // as an event-time column so the day window nests the closed 6h
    // windows; watermark propagation closes a day only after all its 6h
    // buckets closed, within the same micro-batch when the watermark jumps
    // past both. Scale: state is two window stores — O(open 6h windows) +
    // O(open days) per key — instead of a second full pass over the
    // stream or a batch re-aggregation job bolted onto the side; both
    // stores evict by the same watermark. Oracle: 6h epoch buckets nest
    // exactly in days (both epoch-aligned), day closed ⇔ its end cleared
    // the final watermark (max ts − 1h), replaying s10's cutoff rule.
    NamedQuery("s16_stream_chained_aggs",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 4, filesPerTrigger = 2) { ev =>
          val sixHour = ev
            .withColumn("ts", col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "6 hours"), col("event_type"))
            .agg(count(lit(1)).as("n6"))
          val daily = sixHour
            .groupBy(window(window_time(col("window")), "1 day"),
              col("event_type"))
            .agg(sum(col("n6")).as("n_day"), max(col("n6")).as("peak_6h"))
            .select(col("window.start").cast("date").as("day"),
              col("event_type"), col("n_day"), col("peak_6h"))
          runToTable(s, sink("s16", dir), daily, mode = "append")
            .orderBy(col("day"), col("event_type"))
        }
      },
      Some("""WITH wm AS (
               SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wus FROM events),
             h AS (
               SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(floor(epoch(ts) / 21600) AS BIGINT) AS hw,
                      event_type, count(*) AS n6
               FROM events GROUP BY 1, 2, 3)
             SELECT day, event_type, CAST(sum(n6) AS BIGINT) AS n_day,
                    max(n6) AS peak_6h
             FROM h, wm
             GROUP BY day, event_type
             HAVING epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY)
                    <= any_value(wm.wus)
             ORDER BY day, event_type""")),

    // Spark 4 state-v2 (`transformWithState`): s07's sessionization
    // re-expressed as a StatefulProcessor — named ValueState in a RocksDB
    // column family, EXPLICIT event-time timers re-armed per batch — and
    // checked bit-exact against the SAME oracle, pinning that the two
    // state APIs implement identical semantics. This is the 100 TB state
    // path: RocksDB keeps per-key state off-heap (the fMGWS HDFS-backed
    // store is JVM-heap-bound), changelog checkpointing ships per-batch
    // deltas instead of full store snapshots, and the processor model
    // composes multiple typed state variables + TTL where fMGWS forces
    // one state blob. The provider conf is scoped to this entry and
    // restored after (sequential harness, same discipline as
    // statePartitions).
    NamedQuery("s17_stream_state_v2_sessions",
      (s, dir) => withConfs(s, statePartitions(4), rocksDbState) {
        import s.implicits._
        val gapMs = 6L * 3600 * 1000
        val ev = eventsStream(s, dir)
          .select(col("user_id"), col("event_type"),
            col("ts").cast("timestamp").as("ts"), col("value"))
          .as[graft.streaming.EventStreams.Event]
        val sessions = graft.streaming.EventStreams
          .sessionizeV2(ev, gapMs = gapMs, watermark = "1 hour")
        runToTable(s, sink("s17", dir), sessions.toDF(), mode = "append")
          .select(col("user_id"), col("start").as("s_start"),
            col("end").as("s_end"), col("n_events"))
          .orderBy(col("user_id"), col("s_start"))
      },
      Some("""WITH e AS (
               SELECT user_id, epoch_ms(ts) AS ms FROM events),
             marked AS (
               SELECT user_id, ms,
                      CASE WHEN lag(ms) OVER w IS NULL
                           OR ms - lag(ms) OVER w > 21600000 THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
             sess AS (
               SELECT user_id, ms,
                      sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
                        ROWS UNBOUNDED PRECEDING) AS sid
               FROM marked),
             agg AS (
               SELECT user_id, sid, min(ms) AS sms, max(ms) AS ems,
                      count(*) AS n_events
               FROM sess GROUP BY user_id, sid),
             tail AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id),
             wm AS (SELECT max(ms) - 3600000 AS w FROM e)
             SELECT user_id, make_timestamp(sms * 1000) AS s_start,
                    make_timestamp(ems * 1000) AS s_end, n_events
             FROM agg JOIN tail USING (user_id), wm
             WHERE sid < last_sid OR ems + 21600000 < w
             ORDER BY user_id, s_start""")),

    // State-v2 MAP state: custom tumbling 6 h windows per user held as
    // MapState[windowStart → (n, max)] with one event-time timer per
    // window END — the idiom for window semantics built-in window() can't
    // express (per-window custom finalization, dynamic per-key window
    // sets). Updates are POINT lookups (no per-batch scan of the map),
    // state is O(open windows per key), eviction is timer-driven. The
    // aggregates (count, max) are order-insensitive so incremental merge
    // order can't move the result; the oracle replays the timer cutoff:
    // a window emits iff its end is at or below the final watermark.
    NamedQuery("s18_stream_mapstate_windows",
      (s, dir) => withConfs(s, statePartitions(8), rocksDbState) {
        import s.implicits._
        val ev = eventsStream(s, dir)
          .select(col("user_id"), col("event_type"),
            col("ts").cast("timestamp").as("ts"), col("value"))
          .as[graft.streaming.EventStreams.Event]
        val wins = graft.streaming.EventStreams
          .mapStateWindows(ev, windowMs = 6L * 3600 * 1000, watermark = "1 hour")
        runToTable(s, sink("s18", dir), wins.toDF(), mode = "append")
          .orderBy(col("user_id"), col("w_start"))
      },
      Some("""WITH wm AS (
               SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events),
             b AS (
               SELECT user_id,
                      (epoch_ms(ts) // 21600000) * 21600000 AS ws, value
               FROM events)
             SELECT user_id, make_timestamp(ws * 1000) AS w_start,
                    count(*) AS n_events, max(value) AS max_value
             FROM b, wm
             GROUP BY user_id, ws, wm.w
             HAVING ws + 21600000 <= wm.w
             ORDER BY user_id, w_start""")),

    // State BOOTSTRAP (StatefulProcessorWithInitialState): the production
    // migration path — start a streaming job MID-HISTORY with state
    // computed by a batch backfill instead of replaying the whole log.
    // The fixture splits at its time midpoint: sessions fully closed
    // before the cut come from a BATCH lag-flag-cumsum plan; per-user
    // OPEN sessions at the cut seed the processor's initial state (timer
    // pre-armed); the stream processes only post-cut events. The union
    // must equal s07/s17's full-stream output — the SAME oracle gates all
    // three, pinning that backfill + seeded stream composes exactly. At
    // 100 TB this is the difference between replaying months of log
    // through the streaming engine and one batch job + catch-up from an
    // offset.
    NamedQuery("s19_stream_seeded_bootstrap",
      (s, dir) => withConfs(s, statePartitions(4), rocksDbState) {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val gapMs = 6L * 3600 * 1000
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            col("ts").cast("timestamp").as("ts"), col("value"))
        val bounds = ev.agg(min(unix_millis(col("ts"))).as("lo"),
          max(unix_millis(col("ts"))).as("hi")).head()
        val cutMs = (bounds.getLong(0) + bounds.getLong(1)) / 2
        val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        val sess = ev.filter(unix_millis(col("ts")) < cutMs)
          .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
          .withColumn("new_s", when(lag(col("ms"), 1).over(w).isNull
            || col("ms") - lag(col("ms"), 1).over(w) > gapMs, 1).otherwise(0))
          .withColumn("sid", sum(col("new_s"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("ms")).as("sms"), max(col("ms")).as("ems"),
            count(lit(1)).as("n"), sum(col("value")).as("total"))
        // a session is closed by the cut iff no post-cut event can
        // extend it: lastMs + gap < cut. At most one per user survives
        // open (any earlier session is gap-separated from a later
        // pre-cut start, hence closed).
        val closed = sess.filter(col("ems") + gapMs < cutMs)
          .select(col("user_id"), timestamp_millis(col("sms")).as("s_start"),
            timestamp_millis(col("ems")).as("s_end"), col("n").as("n_events"))
        val seed = sess.filter(col("ems") + gapMs >= cutMs)
          .select(col("user_id"), col("sms"), col("ems"), col("n"), col("total"))
          .as[(Long, Long, Long, Long, Double)]
          .map { case (u, sms, ems, n, tot) =>
            (u, graft.streaming.EventStreams.SessionBuf(sms, ems, n, tot)) }
          .groupByKey(_._1).mapValues(_._2)
        val post = eventsStream(s, dir)
          .select(col("user_id"), col("event_type"),
            col("ts").cast("timestamp").as("ts"), col("value"))
          .filter(unix_millis(col("ts")) >= cutMs)
          .as[graft.streaming.EventStreams.Event]
        val streamed = graft.streaming.EventStreams
          .sessionizeV2Seeded(post, seed, gapMs = gapMs, watermark = "1 hour")
        val streamPart = runToTable(s, sink("s19", dir), streamed.toDF(), mode = "append")
          .select(col("user_id"), col("start").as("s_start"),
            col("end").as("s_end"), col("n_events"))
        closed.unionByName(streamPart)
          .orderBy(col("user_id"), col("s_start"))
      },
      Some("""WITH e AS (
               SELECT user_id, epoch_ms(ts) AS ms FROM events),
             marked AS (
               SELECT user_id, ms,
                      CASE WHEN lag(ms) OVER w IS NULL
                           OR ms - lag(ms) OVER w > 21600000 THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
             sess AS (
               SELECT user_id, ms,
                      sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
                        ROWS UNBOUNDED PRECEDING) AS sid
               FROM marked),
             agg AS (
               SELECT user_id, sid, min(ms) AS sms, max(ms) AS ems,
                      count(*) AS n_events
               FROM sess GROUP BY user_id, sid),
             tail AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id),
             wm AS (SELECT max(ms) - 3600000 AS w FROM e)
             SELECT user_id, make_timestamp(sms * 1000) AS s_start,
                    make_timestamp(ems * 1000) AS s_end, n_events
             FROM agg JOIN tail USING (user_id), wm
             WHERE sid < last_sid OR ems + 21600000 < w
             ORDER BY user_id, s_start""")),

    // State-BOUNDED streaming dedup: `dropDuplicatesWithinWatermark` — the
    // production twin of s03. s03's plain `dropDuplicates` keeps every key
    // it has ever seen (state grows with the key universe: fine for a
    // bounded dimension, fatal on a 100 TB unbounded topic);
    // WithinWatermark evicts a key's dedup state once the event-time
    // watermark passes its expiry, bounding state to the delay window.
    // Over the finite fixture the delay is set beyond the fixture's span,
    // so the gated quiescent result is the global first-occurrence dedup
    // (same oracle as s03 — deliberate: the capability differs in its
    // STATE BOUND, not its bounded-input output). The semantics that
    // matter on an unbounded stream — a duplicate inside the delay window
    // is dropped, one arriving after eviction is re-admitted — are pinned
    // in StreamingSpec with controlled micro-batches. Only counts are
    // gated: which physical row survives dedup is processing-order-
    // dependent, so per-row `ts` is dropped before the sink.
    NamedQuery("s20_stream_dedup_within_wm",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val dedup = eventsStream(s, dir)
          .select(col("user_id"), col("event_type"),
            col("ts").cast("timestamp").as("ts"))
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
        runToTable(s, sink("s20", dir), dedup.drop("ts"), mode = "append")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_users
             FROM (SELECT DISTINCT user_id, event_type FROM events)
             GROUP BY event_type ORDER BY event_type""")),

    // Streaming INGEST dedup — p33's incremental dedup run as a stream:
    // the same synthetic ingest rows arrive over two micro-batches and
    // each batch is probed against the STATIC corpus band index inside
    // foreachBatch (stream side: band signatures map-side; corpus side:
    // the family's shared index, persisted once across batches — at
    // 100 TB the bucketed materialized index), verdicts appended to the
    // sink. No streaming state at all: a doc's verdict depends only on
    // (doc, corpus), so per-trigger cost is O(batch) and chunking cannot
    // change the result — pinned by gating against p33's EXACT oracle.
    // This is the continuous-ingest shape of a production corpus: dedup
    // runs as data lands, not as a nightly full-corpus job.
    NamedQuery("s21_stream_ingest_dedup",
      (s, dir) => withConfs(s, statePartitions(8)) {
        Scratch.withDir("graft_s21_") { root =>
          val (stage, outDir) = (root.resolve("stage"), root.resolve("out"))
          val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
          QueriesPipeline.syntheticIngestBatch(d)
            // 2 chunks: multi-batch ingest (verdicts accumulate across
            // triggers against one hot index) at the minimum trigger count
            // that still proves it — per-trigger probe cost is the fixed
            // join overhead, not rows (profiled ~1.2 s/trigger)
            .repartitionByRange(2, col("doc_id"))
            .write.mode("overwrite").parquet(stage.toString)
          // corpus side MATERIALIZED once per (JVM, fixture) and kept hot
          // across micro-batches (shingle index + band signatures + sizes
          // — the standing index a production ingest loop probes; see
          // materializedCorpusIndex. Recomputing signatures per trigger
          // tripled the corpus-side work; rebuilding the index per run
          // added ~3 s to the first trigger)
          val idx = QueriesPipeline.materializedCorpusIndex(s, dir)
          idx.sh.persist(); idx.bands.persist(); idx.sizes.persist()
          try {
            val src = s.readStream.schema(s.read.parquet(stage.toString).schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(stage.toString)
            val probeBatch: (DataFrame, Long) => Unit = (batch, _) =>
              QueriesPipeline.probeCorpusDedup(batch, idx)
                .write.mode("append").parquet(outDir.toString)
            val q = src.writeStream.queryName(sink("s21", dir)).outputMode("append")
              .trigger(Trigger.AvailableNow())
              .foreachBatch(probeBatch)
              .start()
            try require(q.awaitTermination(streamTimeoutMs), "stream s21 did not finish")
            finally q.stop()
            s.read.parquet(outDir.toString).localCheckpoint()
              .orderBy(col("new_id"))
          } finally {
            idx.sh.unpersist(false); idx.bands.unpersist(false)
            idx.sizes.unpersist(false)
          }
        }
      },
      Some(QueriesPipeline.IncrementalDedupOracleSql)),

    // Stream-static LEFT ANTI join — in-stream DECONTAMINATION: documents
    // arrive over three micro-batches and docs whose 10-token prefix
    // matches the static benchmark blocklist (src0's prefixes — p23's
    // contamination discipline applied at INGEST time) are dropped before
    // they ever land in the corpus. The anti join is STATELESS (each
    // micro-batch probes the static side and emits immediately — no join
    // state, no watermark), so per-trigger cost is O(batch) and chunking
    // cannot change the result: the gate runs the identical anti join as
    // one batch in DuckDB. At 100 TB/day the static side is the broadcast
    // (blocklists are benchmark-sized), refreshed by restarting the
    // query — the same slowly-changing-dim story as s13.
    NamedQuery("s22_stream_static_anti",
      (s, dir) => withConfs(s, statePartitions(4)) {
        Scratch.withDir("graft_s22_stage_") { stage =>
          val pfx = concat_ws(" ",
            slice(graft.functions.GraftFunctions.tokens(col("text")), 1, 10))
          val docs = Tables.load(s, dir, "documents")
          docs.select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
            .repartitionByRange(3, col("doc_id"))
            .write.mode("overwrite").parquet(stage.toString)
          val blocklist = docs.filter(col("source") === "src0")
            .select(pfx.as("pfx")).distinct()
          val src = s.readStream.schema(s.read.parquet(stage.toString).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage.toString)
            .withColumn("pfx", pfx)
          val clean = src.join(blocklist, Seq("pfx"), "left_anti")
            .select(col("doc_id"), col("lang"), col("n_chars"))
          runToTable(s, sink("s22", dir), clean, mode = "append")
            .orderBy(col("doc_id"))
        }
      },
      Some("""WITH pref AS (
               SELECT doc_id, lang, n_chars, source,
                      array_to_string(
                        list_filter(string_split(text, ' '), t -> t <> '')[1:10],
                        ' ') AS pfx
               FROM documents),
             block AS (
               SELECT DISTINCT pfx FROM pref WHERE source = 'src0')
             SELECT doc_id, lang, n_chars
             FROM pref ANTI JOIN block USING (pfx)
             ORDER BY doc_id""")),

    // Bounded per-key top-k on state-v2 LIST state: each user's state is
    // exactly the k best (value, event_id) entries — the
    // leaderboard/best-candidates idiom where MapState's point lookups
    // don't fit an ORDERED small collection. No timers, no watermark: the
    // top-k insert is monotone, so Update mode emits a refined snapshot
    // per (key, batch) carrying a strictly-increasing n_seen, and the
    // final snapshot per key (max n_seen) is batch-identical regardless
    // of chunking — which is exactly what the gate selects and DuckDB
    // replays with one ranked window. State per key is O(k), not
    // O(events): the 100 TB property that distinguishes this from
    // collect-and-sort.
    NamedQuery("s23_stream_liststate_topk",
      (s, dir) => withConfs(s, statePartitions(4), rocksDbState) {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // 3 staged chunks → the per-key snapshot really REFINES across
        // micro-batches (single-file streaming would make this one batch)
        withStagedEventsStream(s, dir, 3) { evs =>
          val ev = evs.select(col("user_id"), col("event_id"), col("value"))
            .as[graft.streaming.EventStreams.EventIdVal]
          val snaps = graft.streaming.EventStreams.listStateTopK(ev).toDF()
          val latest = Window.partitionBy(col("user_id"))
            .orderBy(col("n_seen").desc)
          runToTable(s, sink("s23", dir), snaps, mode = "update")
            .withColumn("rk", row_number().over(latest))
            .filter(col("rk") === 1).drop("rk")
            .orderBy(col("user_id"))
        }
      },
      Some("""WITH r AS (
               SELECT user_id, value, row_number() OVER (
                 PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
               FROM events)
             SELECT user_id, count(*) AS n_seen,
                    max(CASE WHEN rk = 1 THEN value END) AS v1,
                    max(CASE WHEN rk = 2 THEN value END) AS v2,
                    max(CASE WHEN rk = 3 THEN value END) AS v3
             FROM r GROUP BY user_id ORDER BY user_id""")),

    // Streaming DEAD-LETTER split — q86's quarantine policy at ingest:
    // each micro-batch parses payloads PERMISSIVE and double-writes,
    // clean rows to the corpus sink and malformed rows (raw text
    // preserved) to a dead-letter dir for replay after the producer is
    // fixed. Both writes happen inside ONE foreachBatch, so a batch is
    // either fully split or fully retried — no row is dropped between
    // sinks. Stateless per-row classification: chunking cannot change
    // the result, and the gate replays the identical split as one batch
    // in DuckDB (q86's oracle shape). Three deterministically malformed
    // rows are injected pre-staging, identically in both engines.
    NamedQuery("s24_stream_dead_letter",
      (s, dir) => withConfs(s, statePartitions(4)) {
        import s.implicits._
        Scratch.withDir("graft_s24_") { root =>
          val stage = root.resolve("stage")
          val cleanDir = root.resolve("clean")
          val dlqDir = root.resolve("dlq")
          val bad = Seq((900001L, "{bad"), (900002L, "[1, 2"), (900003L, ""))
            .toDF("event_id", "props")
          Tables.load(s, dir, "events").select(col("event_id"), col("props"))
            .unionAll(bad)
            .repartitionByRange(3, col("event_id"))
            .write.mode("overwrite").parquet(stage.toString)
          val src = s.readStream.schema(s.read.parquet(stage.toString).schema)
            // 2 files/trigger: the split is stateless per-row (chunking
            // cannot change the result, per the gate note above), so two
            // triggers prove the multi-batch double-write at 2/3 the
            // per-trigger fixed cost
            .option("maxFilesPerTrigger", "2")
            .parquet(stage.toString)
          val split: (DataFrame, Long) => Unit = (batch, _) => {
            val parsed = batch.select(col("event_id"), col("props"),
              from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL(
                "k BIGINT, _corrupt STRING"),
                Map("mode" -> "PERMISSIVE",
                  "columnNameOfCorruptRecord" -> "_corrupt")).as("j"))
            // empty input parses to a NULL struct in Spark — quarantine too.
            // Complement FILTERS (not except): map-side, no dedup semantics.
            val isOk = col("j").isNotNull && col("j._corrupt").isNull
            parsed.filter(isOk).select(col("event_id"), col("j.k").as("k"))
              .write.mode("append").parquet(cleanDir.toString)
            parsed.filter(!isOk).select(col("event_id"), col("props"))
              .write.mode("append").parquet(dlqDir.toString)
          }
          val q = src.writeStream.queryName(sink("s24", dir)).outputMode("append")
            .trigger(Trigger.AvailableNow())
            .foreachBatch(split)
            .start()
          try require(q.awaitTermination(streamTimeoutMs), "stream s24 did not finish")
          finally q.stop()
          val clean = s.read.parquet(cleanDir.toString)
            .select(lit("ok").as("status"), col("k"))
          val dlq = s.read.parquet(dlqDir.toString)
            .select(lit("quarantined").as("status"), lit(null).cast("long").as("k"))
          clean.unionAll(dlq).localCheckpoint()
            .groupBy(col("status"))
            .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
            .orderBy(col("status"))
        }
      },
      Some("""WITH raw AS (
               SELECT props FROM events
               UNION ALL
               SELECT * FROM (VALUES ('{bad'), ('[1, 2'), ('')) v(props)),
             parsed AS (
               SELECT CASE WHEN json_valid(props)
                           THEN 'ok' ELSE 'quarantined' END AS status,
                      CASE WHEN json_valid(props)
                           THEN CAST(props->>'$.k' AS BIGINT) END AS k
               FROM raw)
             SELECT status, count(*) AS n, sum(k)::BIGINT AS sum_k
             FROM parsed GROUP BY status ORDER BY status""")),

    // Complete-mode RANKED output: the live leaderboard shape — a global
    // aggregation ordered and limited, re-emitted in full each trigger
    // (sort+limit on a streaming frame is legal ONLY in complete mode,
    // where the sink holds the whole result). Three staged micro-batches
    // so the rank really re-computes per trigger; the terminal table is
    // the batch answer. Scale: complete mode is viable precisely because
    // the aggregate is tiny (|event_type| rows) — the sort runs over the
    // aggregate, never the stream; for large key spaces the append-mode
    // top-k (s23's ListState) is the fallback. Tie-break on event_type
    // keeps the limit deterministic.
    NamedQuery("s25_stream_complete_topk",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 3) { evs =>
          val ranked = evs.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("event_type"))
            .limit(3)
          runToTable(s, sink("s25", dir), ranked, mode = "complete")
            .orderBy(col("n").desc, col("event_type"))
        }
      },
      Some("""SELECT event_type, count(*) AS n FROM events
             GROUP BY event_type ORDER BY n DESC, event_type LIMIT 3""")),

    // Streaming CDC APPLY — q92's MERGE kernel run as the continuous
    // table-maintenance loop: each micro-batch of changes (event =
    // upsert of user_id→value sequenced by event_id; 'error' = tombstone)
    // is compacted to latest-per-key and merged into a persistent parquet
    // TARGET by max-sequence argmax. Tombstones are RETAINED with their
    // sequence number (never physically deleted mid-stream) so a stale
    // upsert arriving in a later batch cannot resurrect a deleted key —
    // the classic CDC design that makes the result chunk-order
    // INDEPENDENT: the target always converges to the global argmax per
    // key, whatever the arrival interleaving; the final read filters
    // tombstones out. localCheckpoint materializes the merged state
    // before the overwrite so the target is never read and clobbered in
    // the same job. At 100 TB the overwrite becomes Delta/Iceberg MERGE
    // or s08's partition overwrite; the loop semantics are identical.
    NamedQuery("s26_stream_cdc_apply",
      (s, dir) => withConfs(s, statePartitions(4)) {
        import org.apache.spark.sql.expressions.Window
        Scratch.withDir("graft_s26_target_") { target =>
          withStagedEventsStream(s, dir, 3, filesPerTrigger = 2) { evs =>
            @volatile var hasTarget = false
            val latest = Window.partitionBy(col("user_id"))
              .orderBy(col("seq").desc)
            val apply: (DataFrame, Long) => Unit = (batch, _) => {
              val net = batch.select(col("user_id"), col("event_id").as("seq"),
                  col("value"), (col("event_type") === "error").as("del"))
                .withColumn("rk", row_number().over(latest))
                .filter(col("rk") === 1).drop("rk")
              val merged =
                if (!hasTarget) net
                else batch.sparkSession.read.parquet(target.toString)
                  .unionByName(net)
                  .withColumn("rk", row_number().over(latest))
                  .filter(col("rk") === 1).drop("rk")
              merged.localCheckpoint()
                .write.mode("overwrite").parquet(target.toString)
              hasTarget = true
            }
            val q = evs.writeStream.queryName(sink("s26", dir)).outputMode("append")
              .trigger(Trigger.AvailableNow())
              .foreachBatch(apply)
              .start()
            try require(q.awaitTermination(streamTimeoutMs), "stream s26 did not finish")
            finally q.stop()
            s.read.parquet(target.toString).localCheckpoint()
              .filter(!col("del"))
              .select(col("user_id"), col("seq"), col("value").as("last_value"))
              .orderBy(col("user_id"))
          }
        }
      },
      Some("""WITH r AS (
               SELECT user_id, event_id, value, event_type,
                      row_number() OVER (
                        PARTITION BY user_id ORDER BY event_id DESC) AS rk
               FROM events)
             SELECT user_id, event_id AS seq, value AS last_value
             FROM r WHERE rk = 1 AND event_type <> 'error'
             ORDER BY user_id""")),

    // Stream-stream LEFT SEMI join — the third and last stream-stream
    // join type Spark supports, completing the family (s04 inner, s14
    // left outer): clicks that had AT LEAST ONE error from the same user
    // in the preceding hour, each click emitted AT MOST ONCE (semi
    // semantics — no pair explosion when a user has many errors, which
    // at 100 TB is the difference between |clicks| and |clicks×errors|
    // output). Same range condition and watermarks as s04, so join state
    // stays bounded by watermark + range; a click emits as soon as its
    // first match arrives, and chunking can't change the SET of matched
    // clicks. Oracle: the equivalent EXISTS.
    NamedQuery("s27_stream_semi_join",
      (s, dir) => withConfs(s, statePartitions(4)) {
        val ev = eventsStream(s, dir).withColumn("ts", col("ts").cast("timestamp"))
        val c = ev.filter(col("event_type") === "click")
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), col("ts").as("click_ts"))
        val e = ev.filter(col("event_type") === "error")
          .withWatermark("ts", "1 hour")
          .select(col("user_id").as("e_user"), col("ts").as("err_ts"))
        val semi = c.join(e,
          col("user_id") === col("e_user")
            && col("err_ts") >= col("click_ts") - expr("INTERVAL 3600 SECONDS")
            && col("err_ts") <= col("click_ts"),
          "left_semi")
        runToTable(s, sink("s27", dir), semi, mode = "append")
          .select(col("user_id"),
            col("click_ts").cast("timestamp_ntz").as("click_ts"))
          .orderBy(col("user_id"), col("click_ts"))
      },
      Some("""SELECT c.user_id AS user_id, c.ts AS click_ts
             FROM events c
             WHERE c.event_type = 'click'
               AND EXISTS (SELECT 1 FROM events e
                           WHERE e.user_id = c.user_id
                             AND e.event_type = 'error'
                             AND e.ts >= c.ts - INTERVAL 3600 SECONDS
                             AND e.ts <= c.ts)
             ORDER BY user_id, click_ts""")),

    // ------------------------- s28 multi-input union, min-watermark policy
    // Two watermarked inputs UNIONed into one windowed aggregation — the
    // fan-in topology every multi-source 100 TB pipeline has (N Kafka
    // topics → one rollup). The semantic under test is the GLOBAL
    // watermark: with the default `multipleWatermarkPolicy=min`, the
    // downstream watermark is the MINIMUM over inputs, so the laggier
    // input (purchases, 3 h delay) governs eviction for everyone — a
    // window emits only when BOTH inputs have passed it. That min-policy
    // is what makes fan-in correct: the fast input can never force out a
    // window the slow input still owes rows to. Chunked staging advances
    // both watermarks batch-by-batch (real mid-run eviction); the oracle
    // replays the terminal cutoff — per-input watermark = ms-floored max
    // event time minus its delay, global = least of the two, emitted =
    // window end ≤ global (StateStoreSaveExec's non-strict predicate).
    NamedQuery("s28_stream_union_min_wm",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 4, filesPerTrigger = 2) { ev =>
          val in = ev.withColumn("ts", col("ts").cast("timestamp"))
          val clicks = in.filter(col("event_type") === "click")
            .withWatermark("ts", "1 hour")
          val purchases = in.filter(col("event_type") === "purchase")
            .withWatermark("ts", "3 hours")
          val agg = clicks.unionByName(purchases)
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
            .select(col("window.start").cast("date").as("day"),
              col("event_type"), col("n"), col("sum_value"))
          runToTable(s, sink("s28", dir), agg, mode = "append")
            .orderBy(col("day"), col("event_type"))
        }
      },
      Some(s"""WITH wm AS (
               SELECT least(
                 (SELECT (epoch_ms(max(ts)) - 3600000) * 1000
                  FROM events WHERE event_type = 'click'),
                 (SELECT (epoch_ms(max(ts)) - 10800000) * 1000
                  FROM events WHERE event_type = 'purchase')) AS wus)
             SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                    count(*) AS n, ${sqlDecSum("value")} AS sum_value
             FROM events, wm
             WHERE event_type IN ('click', 'purchase')
             GROUP BY day, event_type
             HAVING epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY)
                      <= any_value(wm.wus)
             ORDER BY day, event_type""")),

    // -------------------------- s29 streaming produce→ingest round-trip
    // The reference's wire loop (KafkaLoader.java:89-148 produced keyed
    // Avro messages; the connector decoded them) run STREAMING and
    // broker-free: each micro-batch is encoded through the production
    // sink shape — KafkaEventSink.toKafkaFrame's (topic, 8-byte
    // big-endian key, Avro value), NumberEncoder.java:30-36 key parity —
    // then decoded straight back (key via base-16, value via the same
    // writer schema) and aggregated per user. Equality with the oracle
    // over the ORIGINAL rows proves both codecs are lossless under
    // micro-batch chunking. The encode/decode pair is per-row codegen'd
    // map work; the only shuffle is the final per-user rollup.
    NamedQuery("s29_stream_sink_roundtrip",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 3) { ev =>
          import graft.functions.{AvroSchemas, GraftFunctions => GF}
          import org.apache.spark.sql.types.StructType
          val in = ev.select(col("user_id"), col("event_type"), col("value"))
          val avroSchema = AvroSchemas.toAvro(
            StructType(in.schema.filterNot(_.name == "user_id")),
            "events_rt").toString
          val enc = graft.sources.KafkaEventSink
            .toKafkaFrame(in, "tpch", "events_rt", "user_id")
          // conv with NEGATIVE target base decodes the hex as a SIGNED
          // 64-bit value, so negative keys round-trip too (unsigned base 10
          // would overflow the long cast to NULL for key < 0).
          val agg = enc.select(
              conv(hex(col("key")), 16, -10).cast("long").as("user_id"),
              GF.from_avro(col("value"), avroSchema).as("e"))
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"), decSum(col("e.value")).as("sum_value"))
          runToTable(s, sink("s29", dir), agg).orderBy(col("user_id"))
        }
      },
      Some(s"""SELECT user_id, count(*) AS n, ${sqlDecSum("value")} AS sum_value
             FROM events GROUP BY user_id ORDER BY user_id""")),

    // ----------------------------- s30 checkpoint restart, exactly-once
    // The ops semantic every production stream lives by, promoted from
    // spec (FakeKafkaSpec's no-regress/no-redelivery tests) to the
    // oracle gate: phase 1 streams the first half of history into a
    // stateful dedup through a CHECKPOINT; the query is then STOPPED and
    // a fresh instance restarts from that checkpoint over the grown
    // input dir — it must resume exactly where the commit log left off
    // (no re-delivery of phase-1 keys, no gaps) for the final table to
    // equal batch DISTINCT. The sink writes each micro-batch to a
    // batch=<id> dir with overwrite — idempotent per batchId, so the
    // restart contract's at-least-once-at-the-final-batch replay (if
    // stop() outruns the commit log) rewrites the same dir instead of
    // duplicating rows; that per-batchId discipline is what makes ANY
    // foreachBatch sink exactly-once. State (the dedup key set) rides
    // the checkpoint across the restart.
    NamedQuery("s30_stream_checkpoint_resume",
      (s, dir) => withConfs(s, statePartitions(4)) {
        import java.nio.file.{Files, Paths}
        Scratch.withDir("graft_s30_") { root =>
          val stageAll = root.resolve("all")
          val live = root.resolve("live")
          val ckpt = root.resolve("ckpt").toString
          val out = root.resolve("out")
          Files.createDirectories(live)
          Tables.load(s, dir, "events")
            .repartitionByRange(4, col("ts"))
            .write.mode("overwrite").parquet(stageAll.toString)
          val chunks = graft.util.Fs.listDir(stageAll)(
            _.filter(_.toString.endsWith(".parquet")).map(_.toString))
          // chunk k = k-th time slice (range partitioning); mtimes stagger
          // along that order so the file source delivers history in order
          def arm(n: Int): Unit = chunks.take(n).zipWithIndex.foreach {
            case (f, i) =>
              val dst = live.resolve(s"chunk$i.parquet")
              if (!Files.exists(dst)) Files.copy(Paths.get(f), dst)
              Files.setLastModifiedTime(dst, java.nio.file.attribute
                .FileTime.fromMillis(1000000000000L + i * 60000L))
          }
          def runPhase(): Unit = {
            val ev = s.readStream
              .schema(s.read.parquet(stageAll.toString).schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(live.toString)
            val dedup = Tables.normalizeTs(ev, "ts")
              .select(col("user_id"), col("event_type"))
              .dropDuplicates("user_id", "event_type")
            val write: (DataFrame, Long) => Unit = (b, id) =>
              b.write.mode("overwrite")
                .parquet(out.resolve(s"batch=$id").toString)
            val q = dedup.writeStream.queryName(sink("s30", dir)).option("checkpointLocation", ckpt)
              .outputMode("update").trigger(Trigger.AvailableNow())
              .foreachBatch(write).start()
            try require(q.awaitTermination(streamTimeoutMs), "stream s30 did not finish")
            finally q.stop()
          }
          arm(2); runPhase() // phase 1: first half of history
          arm(4); runPhase() // fresh instance resumes from the checkpoint
          s.read.parquet(out.toString)
            .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
            .localCheckpoint()
            .orderBy(col("event_type"))
        }
      },
      Some("""SELECT event_type, count(*) AS n_users
             FROM (SELECT DISTINCT user_id, event_type FROM events)
             GROUP BY event_type ORDER BY event_type""")),

    // ------------------------- s31 origin-offset windows under watermark
    // q103's business-origin alignment (window() startTime) on the LIVE
    // path: 6-hour buckets starting 01:30/07:30/… maintained
    // incrementally in append mode with a 1-hour watermark — shifted
    // windows shift their EVICTION boundaries too, and the state store
    // must finalize each bucket exactly when the watermark passes its
    // offset end. Chunked staging advances the watermark mid-run (real
    // incremental emission); the oracle replays the affine bucketing on
    // integer seconds plus the terminal ms-floored cutoff against the
    // bucket's offset end.
    NamedQuery("s31_stream_origin_windows",
      (s, dir) => withConfs(s, statePartitions(4)) {
        withStagedEventsStream(s, dir, 4) { ev =>
          val agg = ev
            .withColumn("ts", col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "6 hours", "6 hours", "90 minutes"),
              col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").cast("timestamp_ntz").as("w_start"),
              col("event_type"), col("n"))
          runToTable(s, sink("s31", dir), agg, mode = "append")
            .orderBy(col("w_start"), col("event_type"))
        }
      },
      Some("""WITH wm AS (
               SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wus FROM events)
             SELECT make_timestamp(
                      (((epoch_us(ts) // 1000000 - 5400) // 21600)
                        * 21600 + 5400) * 1000000) AS w_start,
                    event_type, count(*) AS n
             FROM events, wm
             GROUP BY w_start, event_type
             HAVING epoch_us(w_start + INTERVAL 6 HOUR) <= any_value(wm.wus)
             ORDER BY w_start, event_type""")),

    // --------------------- s32 chained stateful: join THEN aggregation
    // The multi-stateful-operator topology (Spark 3.5+): a stream-stream
    // time-interval join (s04's click⋈error-within-the-hour) feeding a
    // DOWNSTREAM windowed aggregation in one query — two state stores,
    // one plan. The semantic under gate is WATERMARK PROPAGATION through
    // the join: a joined row's click_ts can trail the input watermark by
    // the join interval (err_ts ≥ click_ts − 1 h ⟹ delay 1 h), so the
    // aggregation's effective watermark is input − 1 h, and a day-window
    // finalizes only when THAT lagged watermark passes its end — the
    // oracle replays the GLOBAL input wm: the two watermark nodes see
    // only click resp. error rows, so it's least(max click ts, max error
    // ts) ms-floored − 1 h, minus the 1 h join delay (mirrors s28's
    // per-branch modeling). Chunked staging advances watermarks mid-run;
    // append mode
    // end-to-end (the only legal mode for chained stateful operators).
    NamedQuery("s32_stream_join_then_agg",
      (s, dir) => withConfs(s, statePartitions(2)) {
        withStagedEventsStream(s, dir, 4, filesPerTrigger = 2) { evRaw =>
          val ev = evRaw.withColumn("ts", col("ts").cast("timestamp"))
          val joined = graft.streaming.EventStreams.clickErrorJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "error"),
            watermark = "1 hour", windowSec = 3600L)
          val agg = joined
            .groupBy(window(col("click_ts"), "1 day"))
            .agg(count(lit(1)).as("n_joined"))
            .select(col("window.start").cast("date").as("day"), col("n_joined"))
          runToTable(s, sink("s32", dir), agg, mode = "append")
            .orderBy(col("day"))
        }
      },
      Some("""WITH wm AS (
               SELECT (least(
                        (SELECT epoch_ms(max(ts)) FROM events
                          WHERE event_type = 'click'),
                        (SELECT epoch_ms(max(ts)) FROM events
                          WHERE event_type = 'error'))
                       - 3600000 - 3600000) * 1000 AS wus)
             SELECT CAST(date_trunc('day', c.ts) AS DATE) AS day,
                    count(*) AS n_joined
             FROM events c JOIN events e
               ON c.event_type = 'click' AND e.event_type = 'error'
              AND e.user_id = c.user_id
              AND e.ts >= c.ts - INTERVAL 3600 SECONDS AND e.ts <= c.ts,
              wm
             GROUP BY day
             HAVING epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY)
                      <= any_value(wm.wus)
             ORDER BY day""")),

    // --------- s33 checkpoint restart through the partition-overwrite sink
    // s30 proved exactly-once resume for an idempotent per-batchId sink;
    // this is the SAME restart contract through s08's
    // continuously-maintained-table sink: phase 1 streams the first half
    // of history through a hopping-window aggregate whose foreachBatch
    // dynamically overwrites only the touched (w_sec, event_type)
    // partitions; the query is STOPPED and a fresh instance restarts from
    // the checkpoint over the grown input. Two semantics under gate:
    // (1) window state rides the checkpoint — windows STRADDLING the
    // restart (phase-1 partial counts, phase-2 more rows) must finalize
    // with TOTAL aggregates, so a re-scan from zero or a state gap both
    // hash-fail; (2) the upsert-by-partition discipline is idempotent
    // under the restart contract's at-least-once replay of the last
    // uncommitted batch — a replayed trigger recomputes the SAME complete
    // per-group aggregates from the same state + offsets and rewrites the
    // same partitions, never duplicating rows (the update-mode twin of
    // s30's per-batchId dirs). This is how a 100 TB continuously-updated
    // table survives executor/driver loss without a full rebuild.
    NamedQuery("s33_stream_restart_overwrite",
      (s, dir) => withConfs(s, statePartitions(4)) {
        import java.nio.file.{Files, Paths}
        Scratch.withDir("graft_s33_") { root =>
          val stageAll = stagedDir(s, dir, 4) // shared JVM staging cache
          val live = root.resolve("live")
          val ckpt = root.resolve("ckpt").toString
          val out = root.resolve("out")
          Files.createDirectories(live)
          val chunks = graft.util.Fs.listDir(stageAll)(
            _.filter(_.toString.endsWith(".parquet")).map(_.toString))
          // chunk k = k-th time slice (range partitioning); mtimes stagger
          // along that order so the file source delivers history in order
          def arm(n: Int): Unit = chunks.take(n).zipWithIndex.foreach {
            case (f, i) =>
              val dst = live.resolve(s"chunk$i.parquet")
              if (!Files.exists(dst)) Files.copy(Paths.get(f), dst)
              Files.setLastModifiedTime(dst, java.nio.file.attribute
                .FileTime.fromMillis(1000000000000L + i * 60000L))
          }
          def runPhase(): Unit = {
            val ev = Tables.normalizeTs(
              s.readStream
                .schema(rawSchema(s, stageAll.toString))
                // 2 files/trigger: each phase still commits its own
                // batch(es) to the checkpoint — the restart contract under
                // gate lives at the PHASE boundary, not in intra-phase
                // trigger count — at half the per-trigger fixed cost
                .option("maxFilesPerTrigger", "2")
                .parquet(live.toString),
              "ts")
            val agg = ev
              .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
              .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
              .select(unix_timestamp(col("window.start").cast("timestamp"))
                .as("w_sec"), col("event_type"), col("n"), col("sum_value"))
            // unguarded single-action write — same empty-batch no-op
            // reasoning + write-parallelism + commit-protocol trims as
            // s08's sink (see there)
            val writeBatch: (DataFrame, Long) => Unit = (batch, _) =>
              batch
                .repartition(16, col("w_sec"), col("event_type"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
              .option("compression", "none")
                .partitionBy("w_sec", "event_type")
                .parquet(out.toString)
            val q = agg.writeStream.queryName(sink("s33", dir)).option("checkpointLocation", ckpt)
              .outputMode("update").trigger(Trigger.AvailableNow())
              .foreachBatch(writeBatch).start()
            try require(q.awaitTermination(streamTimeoutMs), "stream s33 did not finish")
            finally q.stop()
          }
          arm(2); runPhase() // phase 1: first half of history
          arm(4); runPhase() // fresh instance resumes from the checkpoint
          s.read.parquet(out.toString)
            .select(timestamp_seconds(col("w_sec").cast("long"))
              .cast("timestamp_ntz").as("w_start"),
              col("event_type"), col("n"), col("sum_value"))
            .localCheckpoint()
            .orderBy(col("w_start"), col("event_type"))
        }
      },
      Some(s"""WITH wins AS (
               SELECT event_type, value,
                      TIMESTAMP '1970-01-01 00:00:00' +
                        (CAST(floor(epoch(ts) / 43200) AS BIGINT) * 43200
                         - i * 43200) * INTERVAL 1 SECOND AS w_start
               FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i))
             SELECT w_start, event_type, count(*) AS n,
                    ${sqlDecSum("value")} AS sum_value
             FROM wins GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ------------------- s34 transactional JDBC sink, exactly-once
    // The exactly-once story for a TRANSACTIONAL store (s30 proved it for
    // the memory-sink topology, s33 for idempotent-by-path file
    // partitions; this is the third sink class — a real RDBMS, embedded
    // Derby): update-mode changelog rows upserted by primary key, each
    // task committing its partition's rows atomically WITH a
    // (batch_id, part_id) ledger row, so an at-least-once replay either
    // skips (ledger hit) or rewrites identical values — see
    // [[graft.sources.JdbcTxnSink]]. The run itself kills the stream
    // mid-history and resumes from the checkpoint (s33's two-phase arm),
    // so the restart path executes for real; the gate then checks the
    // TABLE READ BACK OVER JDBC against the batch oracle — sink
    // round-trip included, not just the changelog. State is
    // watermark-bounded; chunks are range-staged so every upserted window
    // is final once its state evicts.
    NamedQuery("s34_jdbc_txn_sink",
      (s, dir) => withConfs(s, statePartitions(4)) {
        import java.nio.file.{Files, Paths}
        Scratch.withDir("graft_s34_") { root =>
          val db = root.resolve("db").toString
          try {
            val stageAll = stagedDir(s, dir, 4) // shared JVM staging cache
            val live = root.resolve("live")
            val ckpt = root.resolve("ckpt").toString
            Files.createDirectories(live)
            val chunks = graft.util.Fs.listDir(stageAll)(
              _.filter(_.toString.endsWith(".parquet")).map(_.toString))
            def arm(n: Int): Unit = chunks.take(n).zipWithIndex.foreach {
              case (f, i) =>
                val dst = live.resolve(s"chunk$i.parquet")
                if (!Files.exists(dst)) Files.copy(Paths.get(f), dst)
                Files.setLastModifiedTime(dst, java.nio.file.attribute
                  .FileTime.fromMillis(1000000000000L + i * 60000L))
            }
            val url = s"jdbc:derby:$db;create=true"
            graft.sources.JdbcTxnSink.init(url)
            def runPhase(): Unit = {
              val ev = Tables.normalizeTs(
                s.readStream
                  .schema(rawSchema(s, stageAll.toString))
                  // 2 files/trigger — s33's reasoning: the restart contract
                  // under gate lives at the phase boundary, and the ledger
                  // skip/apply paths are exercised per batch either way
                  .option("maxFilesPerTrigger", "2")
                  .parquet(live.toString),
                "ts")
              val agg = ev
                .withColumn("ts", col("ts").cast("timestamp"))
                .withWatermark("ts", "1 hour")
                .groupBy(window(col("ts"), "1 day"), col("event_type"))
                .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
                .select(unix_timestamp(col("window.start")).as("w_sec"),
                  col("event_type"), col("n"), col("sum_value"))
              val q = agg.writeStream.queryName(sink("s34", dir)).option("checkpointLocation", ckpt)
                .outputMode("update").trigger(Trigger.AvailableNow())
                .foreachBatch((batch: DataFrame, bid: Long) =>
                  graft.sources.JdbcTxnSink.upsertBatch(url, batch, bid))
                .start()
              try require(q.awaitTermination(streamTimeoutMs), "stream s34 did not finish")
              finally q.stop()
            }
            arm(2); runPhase() // phase 1: first half of history
            arm(4); runPhase() // fresh instance resumes from the checkpoint
            s.read.format("jdbc")
              .option("url", url)
              .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
              .option("dbtable", "APP.AGG").load()
              .select(timestamp_seconds(col("W_SEC"))
                .cast("timestamp_ntz").as("w_start"),
                col("EVENT_TYPE").as("event_type"), col("N").as("n"),
                col("SUM_VALUE").as("sum_value"))
              .localCheckpoint()
              .orderBy(col("w_start"), col("event_type"))
          } finally graft.sources.JdbcTxnSink.shutdown(db)
        }
      },
      Some(s"""SELECT TIMESTAMP '1970-01-01 00:00:00' +
                      (CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400)
                        * INTERVAL 1 SECOND AS w_start,
                    event_type, count(*) AS n,
                    ${sqlDecSum("value")} AS sum_value
             FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // --------------------- s35 streaming integrity manifest maintenance
    // p68's integrity manifest maintained DURING ingest: documents arrive
    // in doc_id-ranged chunks and a streaming aggregation keeps each
    // bucket's (count, bytes, XOR PolyHash checksum) current across
    // micro-batches. XOR is what makes this a legal streaming fold —
    // commutative and associative, so neither arrival order nor batch
    // boundaries can change the converged manifest (the gate checks the
    // incremental run against the batch rollup bit-exactly). State is one
    // row per bucket (bounded by layout, not data rate); at 100 TB the
    // bucket key is the shard path and this IS the writer-side integrity
    // ledger that p68 audits after the fact.
    NamedQuery("s35_stream_bucket_manifest",
      (s, dir) => withConfs(s, statePartitions(4)) {
        Scratch.withDir("graft_s35_stage_") { stage =>
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("n_chars"), col("text"))
            .repartitionByRange(4, col("doc_id"))
            .write.mode("overwrite").parquet(stage.toString)
          val src = s.readStream.schema(s.read.parquet(stage.toString).schema)
            // 2 files/trigger: the XOR fold is commutative/associative, so
            // batch boundaries cannot change the converged manifest (the
            // gate's own point) — two triggers prove the incremental fold
            .option("maxFilesPerTrigger", "2")
            .parquet(stage.toString)
          val agg = src
            .withColumn("h", graft.functions.GraftFunctions.poly_hash(
              concat(col("doc_id").cast("string"), lit(":"), col("text"))))
            .groupBy(expr("doc_id div 100").as("bucket"))
            .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
              expr("bit_xor(h)").as("checksum"))
          runToTable(s, sink("s35", dir), agg)
            .orderBy(col("bucket"))
        }
      },
      Some(s"""SELECT doc_id // 100 AS bucket, count(*) AS n_docs,
                    sum(n_chars)::BIGINT AS chars,
                    bit_xor(${graft.functions.PolyHash.oracleSql(
                      "doc_id::VARCHAR || ':' || text")}) AS checksum
             FROM documents GROUP BY bucket ORDER BY bucket""")))
}
