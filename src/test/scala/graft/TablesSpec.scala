package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** `Tables.load` caches one plan per table and must never serve it once
  * the table's files change. */
class TablesSpec extends SparkTestBase {

  private def partFile(dir: Path): Path = {
    val ls = Files.list(dir)
    try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally ls.close()
  }

  test("Tables.load serves a part file rewritten in place under a partition subdirectory") {
    val dir = Files.createTempDirectory("graft_tables_")
    try {
      spark.range(10).select(col("id"), (col("id") % 2).as("k"))
        .coalesce(1).write.partitionBy("k").parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir.toString, "t").filter(col("k") === 1).count() == 5)
      // new, larger content for k=1, written over the existing part file's
      // bytes (and its checksum's): no directory entry, and so no
      // directory's size or mtime, changes. A stale plan lists the old
      // file length and skips the row groups past it.
      spark.range(100, 1100).select(col("id"))
        .coalesce(1).write.parquet(s"$dir/new")
      val (target, source) = (partFile(dir.resolve("t.parquet/k=1")), partFile(dir.resolve("new")))
      def crc(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")
      for ((to, from) <- Seq(target -> source, crc(target) -> crc(source)))
        Files.write(to, Files.readAllBytes(from))
      val k1 = Tables.load(spark, dir.toString, "t").filter(col("k") === 1)
      assert(k1.agg(count(lit(1)), min(col("id")), max(col("id"))).head() == Row(1000L, 100L, 1099L))
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
