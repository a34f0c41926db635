package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, sum, unix_micros}

/** The one-owner rule for on-disk scratch (`util.Scratch`): staged
  * intermediates follow their inputs, and no other module makes temp dirs
  * or shutdown hooks.
  */
class ScratchSpec extends SparkTestBase {

  private def files(root: Path): List[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.toList finally walk.close()
  }

  test("an input rewritten in place restages every staged intermediate over its new rows") {
    val src = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-restage")
    try {
      val dir = tmp.toString
      for (n <- Seq("events", "orders", "lineitem"))
        Files.copy(Paths.get(s"$src/$n.parquet"), tmp.resolve(s"$n.parquet"))
      def location(table: String): Path = Paths.get(
        spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location)
      val s01 = QueriesStreaming.all.find(_.name == "s01_stream_daily_stats").get
      def streamed(): Long = s01.fn(spark, dir).agg(sum("n")).first().getLong(0)

      val (ordT, _) = QueriesCore.bucketedOrderTables(spark, dir)
      val dayT = QueriesCore.dayPartitionedEvents(spark, dir)
      val stage = QueriesStreaming.stagedDir(spark, dir, 4)
      val Seq(events0, orders0) = Seq("events", "orders").map(Tables.load(spark, src, _).count())
      assert(streamed() == events0)
      val old = Seq(location(ordT), location(dayT), stage)

      // half the rows, as one file moved into place outside Spark's writer
      // (Spark's own writes refresh its caches over the path they write)
      def replace(name: String, df: DataFrame): Long = {
        val next = tmp.resolve(s"next_$name")
        df.coalesce(1).write.parquet(next.toString)
        val part = files(next).find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, tmp.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
        graft.util.Fs.deleteRecursively(next)
        Tables.load(spark, dir, name).count()
      }
      // events comes back in the other `ts` vintage: nanos in a LONG, as a
      // TIMESTAMP(NANOS) fixture reads under nanosAsLong
      val nEvents = replace("events", Tables.load(spark, src, "events")
        .filter(col("event_id") % 2 === 0)
        .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000))
      val nOrders = replace("orders",
        Tables.load(spark, src, "orders").filter(col("o_orderkey") % 2 === 0))
      assert(0 < nEvents && nEvents < events0 && 0 < nOrders && nOrders < orders0)

      val (ordT2, _) = QueriesCore.bucketedOrderTables(spark, dir)
      assert(spark.table(ordT2).count() == nOrders)
      assert(spark.table(QueriesCore.dayPartitionedEvents(spark, dir)).count() == nEvents)
      assert(spark.read.parquet(QueriesStreaming.stagedDir(spark, dir, 4).toString)
        .count() == nEvents)
      // a raw schema memoized from the old file would stream ts as a timestamp
      assert(streamed() == nEvents)
      assert(old.forall(p => !Files.exists(p)), old)
    } finally graft.util.Fs.deleteRecursively(tmp)
  }

  test("src/main makes temp dirs and shutdown hooks only in util/Scratch.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    for (needle <- Seq("createTempDirectory(", "addShutdownHook")) {
      val sites = for {
        f <- files(root) if f.toString.endsWith(".scala")
        (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
        if line.contains(needle)
      } yield s"${root.relativize(f)}:${i + 1}"
      assert(sites.size == 1 && sites.head.startsWith("graft/util/Scratch.scala:"),
        s"$needle outside util.Scratch:\n  ${sites.mkString("\n  ")}")
    }
  }
}
