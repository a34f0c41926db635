package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.OffsetRange
import graft.sources.{FakeKafka, JsonPayloadCodec, KafkaEventSource}

/** Drives the FULL [[KafkaEventSource.read]] path — offset-JSON handoff,
  * one raw scan per range inside one log scan, minPartitions splitting,
  * reader decode, malformed-drop — against the broker-free [[FakeKafka]]
  * DSv2 source. Reproduces the reference's exact-count-across-many-splits
  * invariant (`TestManySegments.java:102-108`: many segments/splits must
  * neither lose nor duplicate a single row).
  */
class FakeKafkaSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true)))

  private def source(ranges: Seq[OffsetRange],
                     minParts: Option[Int] = Some(400),
                     corruptEvery: Long = 0L) =
    KafkaEventSource("fake:9092",
      codec = JsonPayloadCodec,
      offsetRanges = ranges,
      partitionsOf = _ => 4,
      minPartitions = minParts,
      extraOptions = Map(
        "fake.latest" -> "25000",
        "fake.partitions" -> "4") ++
        (if (corruptEvery > 0) Map("fake.corruptEvery" -> corruptEvery.toString) else Map.empty),
      format = "graft.sources.FakeKafka")

  test("TestManySegments invariant: 100k rows exact across hundreds of splits") {
    val df = source(Seq(OffsetRange(0, None))).read(spark, "proj", "events", schema)
    // minPartitions=400 over 4 partitions -> 100 chunks each = 400 splits
    assert(df.rdd.getNumPartitions >= 400)
    // exact count: no split loses or duplicates rows
    assert(df.count() == 100000L)
    assert(df.agg(countDistinct(col("user_id"))).head().getLong(0) == 100000L)
    // offsets span the full log on every partition
    val Array(mn, mx) = df.agg(min(col("_offset")), max(col("_offset"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert(mn == 0L && mx == 24999L)
  }

  test("multi-range window reads as a union of per-range scans, exactly") {
    val ranges = Seq(OffsetRange(1000, Some(3000)), OffsetRange(5000, Some(6000)))
    val df = source(ranges, minParts = Some(16)).read(spark, "proj", "events", schema)
    assert(df.count() == (2000L + 1000L) * 4)
    // no row outside the requested windows (gap offsets excluded)
    assert(df.filter(col("_offset") >= 3000 && col("_offset") < 5000).count() == 0)
    assert(df.filter(col("_offset") < 1000 || col("_offset") >= 6000).count() == 0)
  }

  test("contradictory predicate (no ranges) yields an empty typed relation") {
    val df = source(Nil).read(spark, "proj", "events", schema)
    assert(df.columns.toSeq == Seq("_offset", "project", "collection", "user_id", "event_type"))
    assert(df.count() == 0)
  }

  test("unbounded-high range clamps to the live log head (latest)") {
    val df = source(Seq(OffsetRange(24990, None)), minParts = None)
      .read(spark, "proj", "events", schema)
    assert(df.count() == 10L * 4)
  }

  test("malformed payloads drop without poisoning the scan (C6 semantics)") {
    val df = source(Seq(OffsetRange(0, None)), corruptEvery = 100L)
      .read(spark, "proj", "events", schema)
    // offsets divisible by 100 are garbage: 250 per partition x 4
    assert(df.count() == 100000L - 250L * 4)
  }

  test("readStream delivers exactly the multi-range window (residual filter end-to-end)") {
    // the broker only receives the coarse start offset; the decoded stream
    // must re-apply the pruned ranges so gaps and the tail are excluded
    val ranges = Seq(OffsetRange(100, Some(200)), OffsetRange(500, Some(600)))
    val df = source(ranges, minParts = None)
      .readStream(spark, "proj", "events", schema)
    val q = df.writeStream.format("memory").queryName("fkstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT _offset, user_id FROM fkstream").collect()
      val offsets = rows.map(_.getLong(0)).toSet
      assert(offsets == ((100L until 200L) ++ (500L until 600L)).toSet)
      // every offset appears once per partition
      assert(rows.length == 200 * 4)
    } finally q.stop()
  }

  test("readStream over no ranges fails instead of streaming from offset 0") {
    val q = source(Nil, minParts = None).readStream(spark, "proj", "events", schema)
      .writeStream.format("memory").queryName("fkempty").outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("prunes every offset")), e)
    assert(q.recentProgress.isEmpty)
    assert(spark.sql("SELECT count(*) FROM fkempty").head().getLong(0) == 0L)
  }

  test("readStream advances across micro-batches as the log head grows") {
    val src = KafkaEventSource("fake:9092",
      codec = JsonPayloadCodec,
      offsetRanges = Seq(OffsetRange(0, None)),
      partitionsOf = _ => 2,
      extraOptions = Map(
        "fake.partitions" -> "2",
        "fake.latest" -> "50",
        "fake.advancePerBatch" -> "50",
        "fake.maxLatest" -> "150"),
      format = "graft.sources.FakeKafka")
    val df = src.readStream(spark, "proj", "events", schema)
    val q = df.writeStream.format("memory").queryName("fkgrow")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM fkgrow").head().getLong(0)
      // head reaches maxLatest=150 after enough batches: 150 offsets x 2
      assert(n == 300L)
    } finally q.stop()
  }

  test("micro-batch stream never regresses past a checkpointed offset on restart") {
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val opts = new CaseInsensitiveStringMap(java.util.Map.of(
      "subscribe", "t", "fake.partitions", "1",
      "fake.latest", "50", "fake.advancePerBatch", "50", "fake.maxLatest", "150"))
    val all = ReadLimit.allAvailable()
    val restarted = new graft.sources.FakeKafkaMicroBatchStream("t", opts)
    // the engine restores the committed offset through deserializeOffset —
    // a fresh instance must adopt it instead of re-announcing head=50
    val restored = restarted.deserializeOffset("""{"0":150}""")
    val latest = restarted.latestOffset(restored, all).json()
    assert(latest == """{"0":150}""", latest)
    // and a maxLatest below the restored offset must not shrink it either
    val shrunk = new graft.sources.FakeKafkaMicroBatchStream("t", opts)
    val far = shrunk.deserializeOffset("""{"0":400}""")
    shrunk.commit(far)
    assert(shrunk.latestOffset(far, all).json() == """{"0":400}""")
    // a start offset handed straight to latestOffset is adopted as well
    val fresh = new graft.sources.FakeKafkaMicroBatchStream("t_fresh", opts)
    val start = new Offset { override def json(): String = """{"0":150}""" }
    assert(fresh.latestOffset(start, all).json() == """{"0":150}""")
  }

  test("readStream is admission-controlled: read limit, AvailableNow and source metrics") {
    // FakeKafka's stream, like Spark's Kafka connector, throws on the
    // no-argument latestOffset, so this runs only if the log stream
    // passes admission control through to it
    val src = KafkaEventSource("fake:9092",
      codec = JsonPayloadCodec,
      offsetRanges = Seq(OffsetRange(0, None)),
      partitionsOf = _ => 2,
      extraOptions = Map(
        "fake.partitions" -> "2",
        "fake.latest" -> "100",
        "maxOffsetsPerTrigger" -> "60"),
      format = "graft.sources.FakeKafka")
    val q = src.readStream(spark, "proj", "limited", schema)
      .writeStream.format("memory").queryName("fklimit").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow stream did not finish")
      val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
      // 2 x 100 offsets at most 60 a trigger, shared by the two partitions
      assert(batches.map(_.numInputRows) == Seq(60L, 60L, 60L, 20L))
      val metrics = batches.map(_.sources.head.metrics)
      assert(metrics.map(_.get("maxOffsetsBehindLatest")) == Seq("70", "40", "10", "0"))
      assert(batches.map(_.sources.head.latestOffset).distinct == Seq("""{"0":100,"1":100}"""))
      val Array(n, distinct) = spark.sql(
        "SELECT count(*), count(DISTINCT _offset, user_id) FROM fklimit").head().toSeq
        .map(_.asInstanceOf[Long]).toArray
      assert(n == 200L && distinct == 200L)
    } finally q.stop()
  }

  test("DSv2 readStream.table decodes at the reader and matches the batch scan") {
    val tag = "fkdsv2"
    val msDir = s"/tmp/graft_ms_spec_$tag"
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(msDir))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType)))
    new graft.catalog.FileMetastore(msDir).createCollection("proj", "events",
      graft.catalog.SchemaField.fromStructType(schema))
    val cat = s"graftspec_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.metastore", msDir)
    spark.conf.set(s"spark.sql.catalog.$cat.source", "kafka")
    spark.conf.set(s"spark.sql.catalog.$cat.bootstrap", "fake:9092")
    spark.conf.set(s"spark.sql.catalog.$cat.codec", "json")
    spark.conf.set(s"spark.sql.catalog.$cat.sourceFormat", "graft.sources.FakeKafka")
    spark.conf.set(s"spark.sql.catalog.$cat.sourcePartitions", "2")
    spark.conf.set(s"spark.sql.catalog.$cat.source.option.fake.partitions", "2")
    spark.conf.set(s"spark.sql.catalog.$cat.source.option.fake.latest", "100")
    spark.conf.set(s"spark.sql.catalog.$cat.source.option.fake.corruptEvery", "10")
    val q = spark.readStream.table(s"$cat.proj.events")
      .writeStream.format("memory").queryName("fkdsv2").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT _offset, user_id, event_type FROM fkdsv2 ORDER BY _offset, user_id")
        .collect().toSeq
      // batch twin over the same closed-form log
      val batch = KafkaEventSource("fake:9092", codec = JsonPayloadCodec,
        partitionsOf = _ => 2,
        extraOptions = Map("fake.partitions" -> "2", "fake.latest" -> "100",
          "fake.corruptEvery" -> "10"),
        format = "graft.sources.FakeKafka")
        .read(spark, "proj", "events", schema)
        .selectExpr("_offset", "user_id", "event_type")
        .orderBy("_offset", "user_id").collect().toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"stream/batch divergence: ${streamed.size} vs ${batch.size} rows")
      // malformed payloads (offset % 10 == 0) dropped in-flight: 90 x 2
      assert(streamed.size == 180, s"${streamed.size}")
    } finally q.stop()
  }

  test("DSv2 stream resumes from its checkpoint with no re-delivery and no gaps") {
    val tag = "fkresume"
    val msDir = s"/tmp/graft_ms_spec_$tag"
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(msDir))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType)))
    new graft.catalog.FileMetastore(msDir).createCollection("proj", "events",
      graft.catalog.SchemaField.fromStructType(schema))
    val cat = s"graftspec_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.metastore", msDir)
    spark.conf.set(s"spark.sql.catalog.$cat.source", "kafka")
    spark.conf.set(s"spark.sql.catalog.$cat.bootstrap", "fake:9092")
    spark.conf.set(s"spark.sql.catalog.$cat.codec", "json")
    spark.conf.set(s"spark.sql.catalog.$cat.sourceFormat", "graft.sources.FakeKafka")
    spark.conf.set(s"spark.sql.catalog.$cat.sourcePartitions", "1")
    spark.conf.set(s"spark.sql.catalog.$cat.source.option.fake.partitions", "1")
    spark.conf.set(s"spark.sql.catalog.$cat.source.option.fake.latest", "60")
    spark.conf.set(s"spark.sql.catalog.$cat.source.option.fake.advancePerBatch", "60")
    spark.conf.set(s"spark.sql.catalog.$cat.source.option.fake.maxLatest", "120")
    // memory sink can't recover from a checkpoint — foreachBatch can
    def offsets(): Set[Long] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val take: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) =>
        b.select("_offset").collect().foreach(r => seen.add(r.getLong(0)))
      val q = spark.readStream.table(s"$cat.proj.events")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(take).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet
    }
    try {
      // phase 1: drains the head to maxLatest=120 into the checkpoint
      val first = offsets()
      assert(first == (0L until 120L).toSet, s"phase 1: ${first.size} offsets")
      // phase 2: a FRESH stream instance (whose source re-announces
      // head=fake.latest=60) must adopt the checkpointed position — never
      // regress before the last planned batch. Structured Streaming's
      // restart contract is at-least-once AT THE FINAL BATCH: if stop()
      // outran the commit-log record, exactly that batch ([60,120)) is
      // replayed with the same batchId (sinks are idempotent per batchId —
      // s08's partition overwrite is exactly that); nothing earlier and
      // nothing new may reappear.
      val second = offsets()
      assert(second.isEmpty || second == (60L until 120L).toSet,
        s"regressed past the final batch: ${second.toSeq.sorted.take(8)}…")
      // phase 3: with the replay (if any) committed, a further restart
      // must deliver nothing at all
      val third = offsets()
      assert(third.isEmpty, s"still re-delivering: ${third.toSeq.sorted.take(8)}…")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  /** One good payload of `codec` and one garbage payload (must drop) as raw
    * Kafka-shaped rows, with the reference DataFrame decode of them.
    */
  private def rawFrames(codec: graft.sources.PayloadCodec) = {
    import graft.functions.{AvroSchemas, GraftFunctions => GF}
    val s0 = spark
    import s0.implicits._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val bytes = codec match {
      case graft.sources.AvroPayloadCodec =>
        s0.range(1).select(GF.to_avro(
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.lit(7L).as("user_id"),
            org.apache.spark.sql.functions.lit("click").as("event_type")),
          AvroSchemas.toAvro(schema).toString).as("b")).head().getAs[Array[Byte]]("b")
      case JsonPayloadCodec => """{"user_id": 7, "event_type": "click"}""".getBytes("UTF-8")
    }
    val raw = Seq(
      (Option.empty[Array[Byte]], bytes, "t", 0, 5L, 0L, 0),
      (Option.empty[Array[Byte]], "!garbage!".getBytes, "t", 0, 6L, 0L, 0))
      .toDF("key", "value", "topic", "partition", "offset", "tsraw", "timestampType")
      .withColumn("timestamp", org.apache.spark.sql.functions.timestamp_micros($"tsraw"))
      .select("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val batch = graft.sources.ReferenceDecode
      .decodeRaw(raw, "p", "c", schema, codec).collect()
    (schema, raw, batch)
  }

  test("the Avro frame reader decodes payloads bit-identically to the batch DataFrame path") {
    for (codec <- Seq(graft.sources.AvroPayloadCodec, JsonPayloadCodec)) {
      val (schema, raw, batch) = rawFrames(codec)
      val frames = graft.sources.KafkaEventSource.frameDecoder(spark, "p", "c", schema,
        StructType(graft.catalog.SystemColumns.fields ++ schema.fields),
        graft.plans.OffsetRangePlanner.Full, codec).open()
      val decoded = raw.queryExecution.toRdd.collect().toSeq
        .flatMap(r => if (frames.decode(r)) Some(frames.row().copy()) else None)
      assert(batch.length == 1 && decoded.length == 1, codec) // garbage dropped on both paths
      assert(decoded.head.getLong(0) == 5L)              // _offset
      assert(decoded.head.getLong(3) == batch.head.getLong(3)
        && decoded.head.getLong(3) == 7L)                // user_id
      assert(decoded.head.getUTF8String(4).toString == "click")
    }
  }

  test("fake.payload=avro round-trips the closed-form log through AvroPayloadCodec") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val read = (payload: String, codec: graft.sources.PayloadCodec) =>
      KafkaEventSource("fake:9092", codec = codec,
        partitionsOf = _ => 2,
        extraOptions = Map("fake.partitions" -> "2", "fake.latest" -> "40",
          "fake.corruptEvery" -> "8", "fake.payload" -> payload),
        format = "graft.sources.FakeKafka")
        .read(spark, "proj", "events", schema)
        .selectExpr("_offset", "user_id", "event_type")
        .orderBy("_offset", "user_id").collect().toSeq
    val avro = read("avro", graft.sources.AvroPayloadCodec)
    val json = read("json", JsonPayloadCodec)
    // same closed-form content, same corrupt slots dropped, either codec
    assert(avro.nonEmpty && avro == json,
      s"avro=${avro.size} rows vs json=${json.size}")
    assert(avro.size == 70) // 40 offsets - 5 corrupt (0,8,16,24,32) = 35 x 2
  }

  test("offset JSON parser handles per-partition maps and keyword forms") {
    assert(FakeKafka.parseOffsetJson("""{"t":{"0":100,"1":200}}""", "t")
      == Some(Map(0 -> 100L, 1 -> 200L)))
    assert(FakeKafka.parseOffsetJson("latest", "t").isEmpty)
    assert(FakeKafka.parseOffsetJson("""{"other":{"0":1}}""", "t") == Some(Map.empty))
  }
}
