package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
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
    userView(project, collection, userSchema(project, collection))

  /** Table including `_offset`/`project`/`collection`. */
  def tableWithSystemColumns(project: String, collection: String): DataFrame =
    source.read(spark, project, collection, userSchema(project, collection))

  private def userView(project: String, collection: String, schema: StructType): DataFrame =
    source.read(spark, project, collection, schema)
      .drop(SystemColumns.Offset, SystemColumns.Project, SystemColumns.Collection)

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

  /** Run a SQL query over the `<project>_<collection>` views, resolving only
    * the tables it names, when it names them — as the reference resolved a
    * table when Presto asked for it (`KafkaMetadata.java:155-175`).
    *
    * Every single-part relation name in the parsed query, its subqueries
    * and its CTE bodies, lower-cased as the case-insensitive session does,
    * is tried at each underscore as `(project, collection)`
    * ([[SystemColumns.topicSplits]]). One hit is registered again on this call,
    * so a schema change is always seen; several hits throw, naming each
    * candidate; none leaves the name to Spark (a user view, table or CTE).
    * Metastore work per query therefore follows the names the query uses,
    * not the size of the registry.
    */
  def sql(query: String): DataFrame = {
    GraftEngine.relationNames(spark.sessionState.sqlParser.parsePlan(query))
      .map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      .foreach { name =>
        val hits = SystemColumns.topicSplits(name).flatMap { case (p, c) =>
          metastore.schemaOf(p, c).map((p, c, _))
        }
        hits match {
          case Seq() => ()
          case Seq((p, c, schema)) => userView(p, c, schema).createOrReplaceTempView(name)
          case _ => throw new IllegalArgumentException(s"table $name is ambiguous: it names " +
            hits.map { case (p, c, _) => s"$p.$c" }.mkString(" and "))
        }
      }
    spark.sql(query)
  }

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

  /** Single-part relation names in `plan`, its expression subqueries and
    * its CTE bodies (an `UnresolvedWith`'s inner children).
    */
  private def relationNames(plan: LogicalPlan): Seq[String] =
    plan.flatMap {
      case r: UnresolvedRelation =>
        r.multipartIdentifier match { case Seq(name) => Seq(name); case _ => Nil }
      case p =>
        (p.subqueries ++ p.innerChildren.collect { case c: LogicalPlan => c }).flatMap(relationNames)
    }

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

  /** Local session with the settings this project standardizes on: the
    * only session builder in the program, so every main and spec plans
    * under the same conf (`SessionConfSpec` pins it).
    */
  def localSession(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", shjThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      // default = Spark's own 1g; the 300x streaming spot measurements
      // raise it because the registry gate shape (memory sink + driver
      // sort, needed for the oracle compare) collects every emission to
      // the driver — at 30M events the s18 window set alone serializes
      // past 1 GiB
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("SPARK_GRAFT_MAX_RESULT", "1g"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
