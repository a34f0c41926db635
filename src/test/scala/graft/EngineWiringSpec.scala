package graft

import java.nio.ByteBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.catalog.{FieldType, InMemoryMetastore, Metastore, SchemaField, SystemColumns}
import graft.functions.{AvroSchemas, GraftFunctions => GF}
import graft.plans.{OffsetRange, OffsetRangePlanner}
import graft.sources.{AvroPayloadCodec, JsonPayloadCodec, KafkaEventSink, KafkaEventSource, ParquetEventSource}

class EngineWiringSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val kafkaSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType)))

  /** A 4-partition FakeKafka topic of 25000 offsets a partition. */
  private def fakeKafka(payload: String, ranges: Seq[OffsetRange] = OffsetRangePlanner.Full,
                        minPartitions: Option[Int] = None) =
    KafkaEventSource("fake:9092",
      codec = if (payload == "avro") AvroPayloadCodec else JsonPayloadCodec,
      offsetRanges = ranges,
      partitionsOf = _ => 4,
      minPartitions = minPartitions,
      extraOptions = Map("fake.latest" -> "25000", "fake.partitions" -> "4",
        "fake.payload" -> payload),
      format = "graft.sources.FakeKafka")

  /** The executed plan's scans, and its filters over `_offset`. */
  private def scansAndOffsetFilters(df: DataFrame): (Seq[BatchScanExec], Seq[FilterExec]) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case b: BatchScanExec => b },
      collect(plan) { case f: FilterExec if f.condition.references.exists(_.name == "_offset") => f })
  }

  test("engine.offsetWindow prunes the Kafka scan, with no _offset residual") {
    val window = col("_offset") >= 100 && col("_offset") < 500 && col("event_type") === "click"
    // parquet: the answer honors the whole predicate
    val rows = GraftEngine.overFixtures(spark, sfDir).offsetWindow("tpch", "events", window)
      .select(col("_offset"), col("event_type")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) >= 100 && r.getLong(0) < 500 && r.getString(1) == "click"))
    // Kafka: the offset bounds became the scan's window, read in the reader,
    // so no per-window _offset filter is compiled
    val ms = new InMemoryMetastore
    ms.createCollection("proj", "events", SchemaField.fromStructType(kafkaSchema))
    val df = new GraftEngine(spark, ms, fakeKafka("avro")).offsetWindow("proj", "events", window)
    val (scans, offsetFilters) = scansAndOffsetFilters(df)
    assert(scans.size == 1, df.queryExecution.executedPlan)
    assert(scans.head.scan.description().contains("GraftLogScan proj.events ranges=[100,500)"),
      scans.head.scan.description())
    assert(offsetFilters.isEmpty, offsetFilters)
  }

  test("a multi-range engine read is one scan of every range, no union") {
    val df = fakeKafka("json", Seq(OffsetRange(1000, Some(3000)), OffsetRange(5000, Some(6000))),
      minPartitions = Some(64)).read(spark, "tpch", "events", kafkaSchema)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val (scans, _) = scansAndOffsetFilters(df)
    assert(scans.size == 1, df.queryExecution.executedPlan)
    val description = scans.head.scan.description()
    assert(description.contains("ranges=[1000,3000),[5000,6000)"), description)
    assert("FakeKafkaScan".r.findAllMatchIn(description).size == 2, description)
    assert(collect(df.queryExecution.executedPlan) { case u: UnionExec => u }.isEmpty)
    assert(df.agg(sum(col("n"))).head().getLong(0) == (2000L + 1000L) * 4)
  }

  test("register exposes <project>_<collection> to spark.sql without system columns") {
    val eng = GraftEngine.overFixtures(spark, sfDir)
    eng.register("tpch", "events")
    val out = spark.sql(
      "SELECT event_type, count(*) AS n FROM tpch_events GROUP BY event_type")
    assert(out.count() > 0)
    intercept[Exception](spark.sql("SELECT _offset FROM tpch_events").collect())
  }

  /** Records every metastore call. */
  private final class CountingMetastore(inner: InMemoryMetastore) extends Metastore {
    val lookups = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var listCalls = 0
    override def getCollection(p: String, c: String): Option[Seq[SchemaField]] = {
      lookups += ((p, c)); inner.getCollection(p, c)
    }
    override def listProjects: Seq[String] = { listCalls += 1; inner.listProjects }
    override def listCollections(p: String): Seq[String] = {
      listCalls += 1; inner.listCollections(p)
    }
  }

  private def fixtureFields(name: String): Seq[SchemaField] =
    SchemaField.fromStructType(Tables.load(spark, sfDir, name).schema)

  test("engine.sql looks up only the collections a query names") {
    val inner = new InMemoryMetastore
    (0 until 198).foreach(i =>
      inner.createCollection("wide_reg", f"c$i%03d", Seq(SchemaField("x", FieldType.LONG))))
    Seq("orders", "customer").foreach(t => inner.createCollection("wide_reg", t, fixtureFields(t)))
    assert(inner.listCollections("wide_reg").size == 200)
    val ms = new CountingMetastore(inner)
    val eng = new GraftEngine(spark, ms, ParquetEventSource(sfDir))

    // each name is tried at each underscore: wide.reg_orders, wide_reg.orders
    val joined = eng.sql(
      """SELECT count(*) FROM wide_reg_orders o
        |JOIN wide_reg_customer c ON o.o_custkey = c.c_custkey""".stripMargin)
    assert(joined.head().getLong(0) > 0)
    assert(ms.lookups.sorted == Seq(("wide", "reg_customer"), ("wide", "reg_orders"),
      ("wide_reg", "customer"), ("wide_reg", "orders")))
    assert(ms.listCalls == 0)

    // a collection added between two calls is seen
    inner.createCollection("wide_reg", "part", fixtureFields("part"))
    assert(eng.sql("SELECT count(*) FROM wide_reg_part").head().getLong(0) ==
      Tables.load(spark, sfDir, "part").count())
    // and so is one re-created with fewer fields
    assert(eng.sql("SELECT * FROM wide_reg_orders").columns.length == fixtureFields("orders").size)
    inner.createCollection("wide_reg", "orders", fixtureFields("orders").take(2))
    assert(eng.sql("SELECT * FROM wide_reg_orders").columns.toSeq == Seq("o_orderkey", "o_custkey"))

    // names inside a CTE body, a scalar subquery and an IN subquery resolve
    Seq("orders", "customer", "part").foreach(t => inner.createCollection("nest", t, fixtureFields(t)))
    ms.lookups.clear()
    val nested = eng.sql(
      """WITH o AS (SELECT o_custkey, o_totalprice FROM nest_orders)
        |SELECT count(*) FROM o
        |WHERE o_totalprice > (SELECT min(p_retailprice) FROM nest_part)
        |  AND o_custkey IN (SELECT c_custkey FROM nest_customer)""".stripMargin)
    assert(nested.head().getLong(0) > 0)
    assert(ms.lookups.sorted == Seq(("nest", "customer"), ("nest", "orders"), ("nest", "part")))
    assert(ms.listCalls == 0)
  }

  test("engine.sql fails on an ambiguous table name, naming every candidate") {
    val ms = new InMemoryMetastore
    ms.createCollection("a", "b_c", Seq(SchemaField("x", FieldType.LONG)))
    ms.createCollection("a_b", "c", Seq(SchemaField("y", FieldType.LONG)))
    ms.createCollection("a", "customer", fixtureFields("customer"))
    val eng = new GraftEngine(spark, ms, ParquetEventSource(sfDir))
    val e = intercept[IllegalArgumentException](eng.sql("SELECT * FROM a_b_c"))
    assert(e.getMessage.contains("a.b_c") && e.getMessage.contains("a_b.c"), e.getMessage)
    // a query not naming it still runs
    assert(eng.sql("SELECT count(*) FROM a_customer").head().getLong(0) ==
      Tables.load(spark, sfDir, "customer").count())
  }

  test("KafkaEventSink shapes (topic, 8-byte big-endian key, avro value)") {
    val s0 = spark
    import s0.implicits._
    val df = Seq((1L, "click", 2.5), (-2L, "view", 0.0)).toDF("event_id", "event_type", "value")
    val shaped = KafkaEventSink.toKafkaFrame(df, "proj", "events", "event_id")
    assert(shaped.columns.toSeq == Seq("topic", "key", "value"))
    val rows = shaped.collect()
    assert(rows.forall(_.getString(0) == "proj_events"))
    val keys = rows.map(r => ByteBuffer.wrap(r.getAs[Array[Byte]](1)).getLong).toSet
    assert(keys == Set(1L, -2L))
    assert(rows.forall(_.getAs[Array[Byte]](1).length == 8)) // NumberEncoder parity
    // values decode back under the collection schema
    val payloadSchema = df.drop("event_id").schema
    val avro = AvroSchemas.toAvro(payloadSchema, "events").toString
    val back = shaped.select(GF.from_avro(col("value"), avro).as("e")).select("e.*")
    assert(back.collect().map(_.getString(0)).toSet == Set("click", "view"))
  }

  test("engine.sql discovers collections from the metastore and queries them") {
    val eng = GraftEngine.overFixtures(spark, sfDir)
    val out = eng.sql(
      """SELECT e.event_type, count(*) AS n
        |FROM tpch_events e JOIN tpch_customer c ON e.user_id % 100 = c.c_custkey % 100
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)
    assert(out.count() > 0)
  }

  test("exact counts across many input partitions (TestManySegments invariant)") {
    // the reference proved split-boundary correctness by exact count over
    // many tiny segments (TestManySegments.java:102-108); analogue: same
    // count regardless of partitioning
    val ev = Tables.load(spark, sfDir, "events")
    val n1 = ev.count()
    assert(ev.repartition(64).count() == n1)
    assert(SystemColumns.names.nonEmpty && n1 > 0)
  }
}
