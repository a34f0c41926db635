package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table access (TESTDATA.md: TPC-H-ish star schema + events +
  * documents + embeddings, one parquet per table under `sf*`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns that MAY be written as parquet TIMESTAMP(NANOS) (fixture
    * generators have shipped both nanos and micros across rounds). Spark 4
    * cannot read nanos natively (PARQUET_TYPE_ILLEGAL); with the
    * `nanosAsLong` legacy conf it reads them as LONG ns-since-epoch, which
    * we truncate to µs TIMESTAMP_NTZ — the same ns→µs truncation DuckDB
    * applies, keeping the oracle bit-identical. The normalization is
    * TYPE-ADAPTIVE ([[normalizeTs]]): a micros fixture arrives as
    * TIMESTAMP_NTZ already and passes through untouched, so the same build
    * reads either vintage.
    */
  private val nanosColumns: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  /** ns-long → µs-NTZ when the column materialized as LONG (nanos parquet
    * under `nanosAsLong`); identity when the reader already produced a
    * timestamp (micros parquet). TIMESTAMP (tz-adjusted) is re-tagged NTZ
    * for cross-vintage schema stability — the session is pinned UTC, so
    * the instant is unchanged.
    */
  private[graft] def normalizeTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")).cast("timestamp_ntz"))
      case TimestampType => df.withColumn(c, col(c).cast("timestamp_ntz"))
      case _ => df
    }
  }

  /** PLAN cache (optimization r15): `spark.read.parquet` pays a driver-side
    * file listing + footer schema read on EVERY call, and the registry
    * re-loads the same 10 read-only fixture tables hundreds of times per
    * bench pass (~0.55 s per [[registerAll]] × 32 SQL entries measured via
    * PlanDump). A DataFrame is an immutable logical plan — reusing it is
    * plan reuse, not result reuse: every action still scans the parquet.
    * Keyed per (session, dir, name); entries of stopped sessions are
    * dropped on access so the map can't pin dead contexts. Fixtures are
    * read-only by contract; [[pathStamp]] still catches one regenerated in
    * place.
    */
  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), ((Long, Long), DataFrame)]

  /** Staleness guard for the plan cache and the corpus index: total size
    * and latest mtime of every file and directory under `path` (a parquet
    * "file" written by Spark is a directory tree, with partition
    * subdirectories where it is partitioned). An in-place rewrite of any
    * part file, at any depth, changes the stamp even where it leaves
    * every directory's own size and mtime alone. A missing path stamps
    * (-1, -1).
    */
  private[graft] def pathStamp(path: String): (Long, Long) =
    try {
      var (sz, mt) = (0L, 0L)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try walk.forEach { f =>
        val a = java.nio.file.Files.readAttributes(
          f, classOf[java.nio.file.attribute.BasicFileAttributes])
        sz += a.size
        mt = math.max(mt, a.lastModifiedTime.toMillis)
      } finally walk.close()
      (sz, mt)
    } catch { case _: Exception => (-1L, -1L) }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    planCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val stamp = pathStamp(s"$dir/$name.parquet")
    planCache.compute((spark, dir, name), { (_, prev) =>
      if (prev != null && prev._1 == stamp) prev
      else {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = spark.read.parquet(s"$dir/$name.parquet")
        stamp -> nanosColumns.getOrElse(name, Nil).filter(raw.columns.contains)
          .foldLeft(raw)(normalizeTs)
      }
    })._2
  }

  /** Last dir registered per session — [[registerAll]] is called by every
    * SQL registry entry, but re-registering identical views is pure driver
    * overhead; skip unless the target dir actually changed.
    */
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (String, Seq[(Long, Long)])]

  /** Register every fixture table as a temp view for `spark.sql`. The
    * success marker is recorded AFTER all ten views exist: Verify catches
    * per-entry Throwables and continues, so a registration that failed
    * partway (transient FS error) must be retried by the next entry, not
    * skipped for the rest of the run. The marker carries the per-table
    * [[pathStamp]]s observed BEFORE registering (ADVICE r15, hardened by
    * the r16 review): the skip check re-stats every table on each call
    * (ten attribute reads — microseconds against the ~0.5 s registration
    * it skips), so a fixture regenerated in place is detected by
    * registerAll ITSELF, not only by a DataFrame-API load happening to
    * re-stat it; and because the marker snapshot predates the view
    * creation, a rewrite racing the registration can only force one
    * harmless re-registration, never absorb a stale view into a matching
    * marker.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    registered.keySet.removeIf(_.sparkContext.isStopped)
    val stamps = names.map(n => pathStamp(s"$dir/$n.parquet"))
    if (!(dir, stamps).equals(registered.get(spark))) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registered.put(spark, (dir, stamps))
    }
  }
}
