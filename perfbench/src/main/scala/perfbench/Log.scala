package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.catalog.{FileMetastore, SchemaField}

/** The benchmark's event log: one Avro-encoded FakeKafka topic per
  * collection, served through a metastore-mode `GraftTableCatalog` exactly
  * as a user would configure it. FakeKafka is the load generator: message
  * `o` of partition `p` is the record `{user_id: o*P + p, event_type:
  * EventTypes(o % 4)}`, so every answer has a closed form.
  */
object Log {
  val Partitions = 2
  val Project = "proj"
  val Schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType)))

  /** Registers catalog `name` over a fresh file metastore under `dir`.
    * `fake` holds FakeKafka's own options (`latest`, `advancePerBatch`, …).
    */
  def catalog(spark: SparkSession, name: String, dir: java.nio.file.Path,
              collections: Seq[String], fake: Map[String, String]): Unit = {
    val ms = new FileMetastore(dir.toString)
    collections.foreach(addCollection(ms, _))
    val base = s"spark.sql.catalog.$name"
    Seq(
      "" -> "graft.catalog.GraftTableCatalog",
      ".metastore" -> dir.toString,
      ".source" -> "kafka",
      ".bootstrap" -> "fake:9092",
      ".codec" -> "avro",
      ".sourceFormat" -> "graft.sources.FakeKafka",
      ".sourcePartitions" -> Partitions.toString,
      ".source.option.fake.partitions" -> Partitions.toString,
      ".source.option.fake.payload" -> "avro",
    ).foreach { case (k, v) => spark.conf.set(base + k, v) }
    fake.foreach { case (k, v) => spark.conf.set(s"$base.source.option.fake.$k", v) }
  }

  def addCollection(ms: FileMetastore, collection: String): Unit =
    ms.createCollection(Project, collection, SchemaField.fromStructType(Schema))

  /** The raw FakeKafka frames of `[0, latest)` on every partition: what the
    * broker hands the connector, before any decode.
    */
  def rawFrames(spark: SparkSession, latest: Long): DataFrame =
    spark.read.format("graft.sources.FakeKafka")
      .option("subscribe", "proj_raw")
      .option("fake.partitions", Partitions.toString)
      .option("fake.latest", latest.toString)
      .option("fake.payload", "avro")
      .load()

  /** Messages of one partition in `[s, e)` whose event type index is `k`. */
  def countOfType(s: Long, e: Long, k: Int): Long = {
    def below(n: Long): Long = if (n <= k) 0L else (n - k + 3) / 4
    below(e) - below(s)
  }
}
