package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.plans.OffsetRange
import graft.sources.{AvroPayloadCodec, KafkaEventSource}

/** Batch-scan split sizing derived from the planned offset window: the
  * leaf-scan budget shared across bounded ranges, one split per topic
  * partition at least, [[KafkaEventSource.MinSplitMessages]] per split at
  * least, and an explicit `minPartitions` overriding all of it. Every read
  * is also checked against FakeKafka's closed form, so no split boundary
  * may lose or duplicate a row (`TestManySegments.java:102-108`).
  */
class SplitSizingSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType)))
  private val Partitions = 2
  private val Latest = 100000L

  /** A metastore-mode catalog over a 2-partition Avro FakeKafka topic. */
  private def catalog(name: String, extra: Map[String, String] = Map.empty): String = {
    val ms = java.nio.file.Files.createTempDirectory(s"graft-ms-$name").toString
    new graft.catalog.FileMetastore(ms).createCollection("proj", "events",
      graft.catalog.SchemaField.fromStructType(schema))
    val base = s"spark.sql.catalog.$name"
    (Map(
      "" -> "graft.catalog.GraftTableCatalog",
      ".metastore" -> ms,
      ".source" -> "kafka",
      ".bootstrap" -> "fake:9092",
      ".codec" -> "avro",
      ".sourceFormat" -> "graft.sources.FakeKafka",
      ".sourcePartitions" -> Partitions.toString,
      ".source.option.fake.partitions" -> Partitions.toString,
      ".source.option.fake.latest" -> Latest.toString,
      ".source.option.fake.payload" -> "avro") ++ extra)
      .foreach { case (k, v) => spark.conf.set(base + k, v) }
    name
  }

  private def withBudget[T](budget: Option[Int])(f: => T): T = {
    val key = SQLConf.LEAF_NODE_DEFAULT_PARALLELISM.key
    budget.foreach(b => spark.conf.set(key, b.toString))
    try f finally spark.conf.unset(key)
  }

  /** Scan tasks, rows, distinct users and the executed plan of a window. */
  private def scan(cat: String, window: String): (Int, Long, Long, String) = {
    val rows = spark.sql(s"SELECT _offset, user_id FROM $cat.proj.events WHERE $window")
    val splits = rows.rdd.getNumPartitions
    val plan = rows.queryExecution.executedPlan.toString
    val r = rows.agg(count(lit(1)), countDistinct(col("user_id"))).head()
    (splits, r.getLong(0), r.getLong(1), plan)
  }

  test("splitRequests: budget share, per-partition floor, message floor, open ends") {
    import KafkaEventSource.{MinSplitMessages => M, splitRequests}
    val wide = OffsetRange(0, Some(100 * M))
    // the whole budget, in whole chunks per topic partition
    assert(splitRequests(Seq(wide), 2, 8) == Seq(Some(8)))
    assert(splitRequests(Seq(wide), 2, 9) == Seq(Some(8)))
    // a budget at or under one split per partition asks for nothing
    assert(splitRequests(Seq(wide), 4, 4) == Seq(None))
    // the message floor caps the chunks: 3M offsets hold 3 chunks, 1.5M one
    assert(splitRequests(Seq(OffsetRange(0, Some(3 * M))), 2, 64) == Seq(Some(6)))
    assert(splitRequests(Seq(OffsetRange(0, Some(3 * M / 2))), 2, 64) == Seq(None))
    // two ranges share the budget in proportion to their spans
    val (a, b) = (OffsetRange(0, Some(75 * M)), OffsetRange(80 * M, Some(105 * M)))
    assert(splitRequests(Seq(a, b), 1, 8) == Seq(Some(6), Some(2)))
    // an open end keeps one split per partition and takes no share
    assert(splitRequests(Seq(wide, OffsetRange(200 * M, None)), 2, 8) == Seq(Some(8), None))
    assert(splitRequests(Seq(OffsetRange(0, None)), 2, 8) == Seq(None))
  }

  test("a wide bounded catalog window plans the leaf-parallelism budget") {
    val cat = catalog("graftsplit_wide")
    val window = "_offset >= 10000 AND _offset < 90000"
    val rows = 80000L * Partitions
    withBudget(Some(8)) {
      val (splits, n, users, plan) = scan(cat, window)
      assert(splits == 8, plan)
      assert(plan.contains("minPartitions=8"), plan)
      assert(n == rows && users == rows)
    }
    // unset, the budget is the context's defaultParallelism
    withBudget(None) {
      val (splits, n, users, _) = scan(cat, window)
      assert(splits == spark.sparkContext.defaultParallelism)
      assert(n == rows && users == rows)
    }
  }

  test("a narrow window keeps one split per topic partition") {
    val cat = catalog("graftsplit_narrow")
    withBudget(Some(8)) {
      val (splits, n, users, plan) = scan(cat, "_offset >= 1000 AND _offset < 6000")
      assert(splits == Partitions, plan)
      assert(!plan.contains("minPartitions"), plan)
      assert(n == 5000L * Partitions && users == n)
    }
  }

  test("a two-range OR shares the budget instead of doubling it") {
    val cat = catalog("graftsplit_or")
    withBudget(Some(8)) {
      val (splits, n, users, plan) = scan(cat,
        "(_offset >= 0 AND _offset < 40000) OR (_offset >= 50000 AND _offset < 90000)")
      assert(splits == 8, plan)
      assert("minPartitions=4".r.findAllMatchIn(plan).size == 2, plan)
      assert(n == 80000L * Partitions && users == n)
    }
  }

  test("an explicit minPartitions catalog option passes through unchanged") {
    val cat = catalog("graftsplit_user", Map(".minPartitions" -> "6"))
    withBudget(Some(8)) {
      val (splits, n, users, plan) = scan(cat, "_offset >= 10000 AND _offset < 90000")
      assert(splits == 6, plan)
      assert(plan.contains("minPartitions=6") && !plan.contains("minPartitions=8"), plan)
      assert(n == 80000L * Partitions && users == n)
    }
  }

  test("stream options carry no derived minPartitions") {
    val ranges = Seq(OffsetRange(0, Some(20000)))
    val src = KafkaEventSource("fake:9092", codec = AvroPayloadCodec,
      offsetRanges = ranges,
      partitionsOf = _ => Partitions,
      extraOptions = Map("fake.partitions" -> Partitions.toString,
        "fake.latest" -> Latest.toString, "fake.payload" -> "avro"),
      format = "graft.sources.FakeKafka")
    withBudget(Some(8)) {
      // the same window read as a batch is split; as a stream it is not
      assert(src.batchOptions(spark, "proj_events").map(_.get("minPartitions")) ==
        Seq(Some("4")))
      assert(!src.streamOptions("proj_events", ranges).contains("minPartitions"))
      val q = src.readStream(spark, "proj", "events", schema)
        .writeStream.format("memory").queryName("splitstream").outputMode("append").start()
      try {
        q.processAllAvailable()
        val r = spark.sql("SELECT count(*), count(DISTINCT user_id) FROM splitstream").head()
        assert(r.getLong(0) == 20000L * Partitions && r.getLong(1) == r.getLong(0))
      } finally q.stop()
    }
    // a caller-set minPartitions reaches both, as before
    val user = src.copy(minPartitions = Some(6))
    assert(user.batchOptions(spark, "proj_events").map(_.get("minPartitions")) == Seq(Some("6")))
    assert(user.streamOptions("proj_events", ranges).get("minPartitions") == Some("6"))
  }
}
