package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.catalog.{InMemoryMetastore, Metastore, SchemaField, SystemColumns}
import graft.sources.{EventSource, ParquetEventSource}

/** The engine facade: metastore + source + SparkSession.
  *
  * Replaces the reference's Guice-wired connector bootstrap
  * (`KafkaConnectorFactory.java:54-83`, `KafkaConnectorModule.java:38-53`)
  * with plain constructor injection (SURVEY.md §3 entry point 2). Spark's own
  * task serialization replaces handle marshaling (C9) entirely.
  *
  * Read-only by design, like the reference (`KafkaConnector.java:29-30`):
  * the engine exposes tables; writes happen through ordinary Spark writers.
  */
final class GraftEngine(
    val spark: SparkSession,
    val metastore: Metastore,
    val source: EventSource) {

  /** Table with hidden system columns EXCLUDED — the `SELECT *` projection,
    * parity with the reference's hidden-column bit
    * (`KafkaMetadata.java:165-167`; SURVEY.md §1.2).
    */
  def table(project: String, collection: String): DataFrame =
    tableWithSystemColumns(project, collection)
      .drop(SystemColumns.Offset, SystemColumns.Project, SystemColumns.Collection)

  /** Table including `_offset`/`project`/`collection`. */
  def tableWithSystemColumns(project: String, collection: String): DataFrame = {
    val schema = userSchema(project, collection)
    source.read(spark, project, collection, schema)
  }

  private def userSchema(project: String, collection: String): StructType =
    metastore.schemaOf(project, collection).getOrElse(
      // Parity: TableNotFoundException, reference KafkaMetadata.java:159-161.
      throw new NoSuchElementException(s"table not found: $project.$collection"))

  /** Register the default projection as a temp view named
    * `<project>_<collection>` (the physical topic name) so `spark.sql` can
    * query it.
    */
  def register(project: String, collection: String): Unit =
    table(project, collection)
      .createOrReplaceTempView(SystemColumns.topicFor(project, collection))

  /** Generation at which [[sql]] last registered views; None = never (or
    * the metastore can't track generations — negative — so always refresh).
    */
  @volatile private var registeredGeneration: Option[Long] = None

  /** Collections whose registration failed at [[registeredGeneration]] —
    * retried (alone) on each call so a transient failure heals without
    * paying the full O(#collections) walk, and a PERMANENT failure
    * doesn't disable the cache for everyone else.
    */
  @volatile private var failedRegistrations: Set[(String, String)] = Set.empty

  /** Register every collection the metastore lists and run a SQL query over
    * the `<project>_<collection>` views — discovery-driven, which the
    * reference could never do (its listTables was empty by design,
    * `KafkaMetadata.java:69-74,91-97`; SURVEY.md §4 known bugs).
    *
    * Registration is CACHED on [[Metastore.generation]]: with thousands of
    * collections, re-resolving every schema per query is O(#collections)
    * driver latency — when the generation is unchanged the previous temp
    * views are still exact, so the query planning starts immediately (only
    * previously-FAILED collections are retried, see
    * [[failedRegistrations]]).
    */
  def sql(query: String): DataFrame = {
    // lock-free fast path for the common steady state; anything that
    // MUTATES the cache state runs under the lock (with the generation
    // re-read inside) so a concurrent DDL-triggered full walk and a
    // failed-subset retry can't interleave their read-modify-writes and
    // lose a failure that then would never be retried
    val gen = metastore.generation
    if (!(gen >= 0 && registeredGeneration.contains(gen)) ||
        failedRegistrations.nonEmpty) {
      this.synchronized {
        val g = metastore.generation
        if (g >= 0 && registeredGeneration.contains(g)) {
          if (failedRegistrations.nonEmpty) {
            failedRegistrations =
              failedRegistrations.filterNot { case (p, c) => tryRegister(p, c) }
          }
        } else {
          val all = for {
            p <- metastore.listProjects
            c <- metastore.listCollections(p)
          } yield (p, c)
          // topic naming is ambiguous under underscores (a.b_c and a_b.c
          // both map to view a_b_c) — skip ONLY the colliding group (silent
          // shadowing would return wrong data; failing everything would
          // take down queries that never touch the ambiguous name, same
          // principle as the stale-entry branch below)
          val byView = all.groupBy { case (p, c) => SystemColumns.topicFor(p, c) }
          byView.filter(_._2.size > 1).foreach { case (view, colls) =>
            logWarning(s"skipping ambiguous view $view (collides: $colls)")
          }
          failedRegistrations = byView.filter(_._2.size == 1).values.flatten
            .filterNot { case (p, c) => tryRegister(p, c) }.toSet
          registeredGeneration = if (g >= 0) Some(g) else None
        }
      }
    }
    spark.sql(query)
  }

  /** True if registered; a stale metastore entry (missing backing data)
    * must not take down queries that never touch it.
    */
  private def tryRegister(p: String, c: String): Boolean =
    try { register(p, c); true }
    catch { case e: Exception =>
      logWarning(s"skipping unreadable collection $p.$c: ${e.getMessage}")
      false
    }

  private def logWarning(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)

  /** Offset-windowed scan — the reference's core query shape (`SELECT …
    * WHERE _offset …`, C3): the table with system columns, filtered by
    * `predicate`. Over Kafka its `_offset` conjuncts push into the log scan
    * as pruned [[graft.plans.OffsetRange]]s, so only those windows are read
    * and no `_offset` filter is left to run; over parquet Catalyst pushes
    * them into the file scan.
    */
  def offsetWindow(project: String, collection: String,
                   predicate: org.apache.spark.sql.Column): DataFrame =
    tableWithSystemColumns(project, collection).filter(predicate)
}

object GraftEngine {

  /** Engine over the driver-generated parquet fixtures: derives each
    * collection's metastore schema from the parquet footer (the dynamic,
    * source-of-truth-at-runtime behavior of the reference's JDBC metastore)
    * and registers it under the given project.
    */
  def overFixtures(spark: SparkSession, dir: String,
                   project: String = "tpch"): GraftEngine = {
    val ms = new InMemoryMetastore
    val src = ParquetEventSource(dir)
    Tables.names.foreach { name =>
      val st = Tables.load(spark, dir, name).schema
      ms.createCollection(project, name, SchemaField.fromStructType(st))
    }
    new GraftEngine(spark, ms, src)
  }

  /** AQE's runtime sort-merge → shuffled-hash join rewrite threshold
    * (optimization r16, guide §3.1): Spark ships it OFF (0). With it set,
    * AQE rewrites an SMJ to SHJ at runtime ONLY when every post-shuffle
    * partition's map output is under the threshold — a size-ADAPTIVE
    * decision from measured bytes, not a local[32] constant: big
    * partitions at 100 TB keep the spill-safe sort-merge, small ones skip
    * two sorts. 64 MiB per-partition build side is modest executor memory
    * at any deployment size; env-overridable (0 disables).
    */
  val shjThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m")

  /** Local session with the settings this project standardizes on. */
  def localSession(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", shjThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
