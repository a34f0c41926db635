package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` giving the reference's `catalog.schema.table` naming
  * surface to `spark.sql`: `SELECT … FROM graft.<project>.<collection>`
  * (SURVEY C1's "TableCatalog (DSv2) if full spark.sql naming is wanted").
  *
  * Two modes:
  *
  *  1. '''Fixture mode''' (`spark.sql.catalog.graft.root = <dir>`): tables
  *     resolve to Spark's own parquet DSv2 table, so filter/column
  *     pushdown, partition pruning and vectorized reads are the native
  *     ones. Layout `<root>/<collection>.parquet` under a single default
  *     project namespace (`<root>/<project>/<collection>.parquet` nested).
  *
  *  2. '''Metastore mode''' (`spark.sql.catalog.graft.metastore = <dir>`):
  *     projects/collections resolve through a [[FileMetastore]] — the
  *     reference's primary naming surface, `catalog.schema.table` over
  *     declared topics (`KafkaMetadata.java:155-175`) — over the configured
  *     [[graft.sources.EventSource]] (`source` = `kafka` with `bootstrap`,
  *     or `parquet` | `json` | `csv` | `orc` with `sourceRoot`), so every
  *     `spark.sql` query gets `_offset` pushdown exactly like every Presto
  *     query got TupleDomain pruning. A Kafka collection is a
  *     [[GraftLogTable]], whose scan prunes the broker read; a file-backed
  *     one is a [[GraftFileTable]], which resolves at analysis to the
  *     source's own read, where Catalyst pushes `_offset` into the file
  *     scan (this needs [[graft.GraftExtensions]]).
  *
  * Read-only by design, exactly like the reference
  * (`KafkaConnector.java:29-30,83-87`): every mutation throws.
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _
  private var defaultProject: String = "tpch"
  private var metastore: Option[Metastore] = None
  private var eventSource: Option[graft.sources.EventSource] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    metastore = Option(options.get("metastore")).map(new FileMetastore(_): Metastore)
      .orElse(Option(options.get("metastoreJdbc")).map(new JdbcMetastore(_): Metastore))
    if (metastore.isDefined) {
      eventSource = Some(Option(options.get("source")).getOrElse("parquet") match {
        case "parquet" => graft.sources.ParquetEventSource(required(options, "sourceRoot"))
        case f @ ("json" | "csv" | "orc") =>
          graft.sources.FileEventSource(required(options, "sourceRoot"), f)
        case "kafka" =>
          // knobs: codec (avro|json), sourceFormat (swap in FakeKafka for
          // broker-free tests), sourcePartitions, minPartitions (overrides
          // the split request derived from each batch window), and
          // arbitrary source options via the "source.option." prefix
          import scala.jdk.CollectionConverters._
          val extra = options.asScala.collect {
            case (k, v) if k.startsWith("source.option.") =>
              k.stripPrefix("source.option.") -> v
          }.toMap
          graft.sources.KafkaEventSource(
            required(options, "bootstrap"),
            codec = Option(options.get("codec")).getOrElse("avro") match {
              case "avro" => graft.sources.AvroPayloadCodec
              case "json" => graft.sources.JsonPayloadCodec
              case other => throw new IllegalArgumentException(s"unknown codec '$other'")
            },
            partitionsOf = _ => options.getInt("sourcePartitions", 1),
            minPartitions = Option(options.get("minPartitions")).map(positiveInt("minPartitions", _)),
            extraOptions = extra,
            format = Option(options.get("sourceFormat")).getOrElse("kafka"))
        case other => throw new IllegalArgumentException(s"unknown source '$other'")
      })
      root = options.get("sourceRoot") // may be null for kafka; unused then
    } else {
      root = Option(options.get("root")).getOrElse(
        throw new IllegalArgumentException(s"catalog $name needs option 'root' or 'metastore'"))
    }
    defaultProject = Option(options.get("project")).getOrElse(defaultProject)
  }

  private def required(options: CaseInsensitiveStringMap, key: String): String =
    Option(options.get(key)).getOrElse(
      throw new IllegalArgumentException(s"catalog $catalogName needs option '$key'"))

  // checked here, not at query time: FakeKafka reads 0 as "unset", Spark's
  // Kafka source rejects it only when a query runs
  private def positiveInt(key: String, v: String): Int =
    v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"catalog $catalogName option '$key' must be a positive integer, got '$v'"))

  override def name(): String = catalogName

  private def rejectDeepNamespace(namespace: Array[String]): Unit =
    if (namespace.length > 1) {
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    }

  private def pathFor(ident: Identifier): java.nio.file.Path = {
    rejectDeepNamespace(ident.namespace())
    val base = java.nio.file.Paths.get(root)
    ident.namespace() match {
      case Array(p) =>
        // nested tree wins; the flat fixture layout only backs the default
        // project (so a REAL <root>/<defaultProject>/ dir is never shadowed)
        val nested = base.resolve(p).resolve(s"${ident.name}.parquet")
        if (java.nio.file.Files.exists(nested)) nested
        else if (p == defaultProject) base.resolve(s"${ident.name}.parquet")
        else nested
      case _ => base.resolve(s"${ident.name}.parquet")
    }
  }

  private def projectOf(ident: Identifier): String = ident.namespace() match {
    case Array(p) => p
    case Array() => defaultProject
    case _ => throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      ident.namespace().toSeq)
  }

  override def tableExists(ident: Identifier): Boolean = metastore match {
    case Some(ms) =>
      rejectDeepNamespace(ident.namespace())
      ms.getCollection(projectOf(ident), ident.name).isDefined
    case None => java.nio.file.Files.exists(pathFor(ident))
  }

  override def loadTable(ident: Identifier): Table = metastore match {
    case Some(ms) =>
      rejectDeepNamespace(ident.namespace())
      val project = projectOf(ident)
      val schema = ms.schemaOf(project, ident.name).getOrElse(
        // parity: TableNotFoundException (KafkaMetadata.java:159-161)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
      val name = s"$catalogName.$project.${ident.name}"
      eventSource.get match {
        case log: graft.sources.OffsetAddressedSource =>
          new GraftLogTable(name, project, ident.name, schema, log)
        case files => new GraftFileTable(name, project, ident.name, schema, files)
      }
    case None =>
      val p = pathFor(ident)
      if (!java.nio.file.Files.exists(p)) {
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      }
      ParquetTable(
        s"$catalogName.${ident.namespace().mkString(".")}.${ident.name}",
        SparkSession.active,
        CaseInsensitiveStringMap.empty(),
        Seq(p.toString),
        None,
        classOf[ParquetFileFormat])
  }

  private def parquetNames(dir: java.nio.file.Path): Seq[String] =
    graft.util.Fs.listDir(dir) {
      _.map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet"))
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    rejectDeepNamespace(namespace)
    metastore match {
      case Some(ms) =>
        val project = namespace match { case Array(p) => p; case _ => defaultProject }
        return ms.listCollections(project).map(Identifier.of(namespace, _)).toArray
      case None => ()
    }
    val names = namespace match {
      case Array(p) if p == defaultProject =>
        (parquetNames(java.nio.file.Paths.get(root))
          ++ parquetNames(java.nio.file.Paths.get(root, p))).distinct.sorted
      case Array(p) => parquetNames(java.nio.file.Paths.get(root, p))
      case _ => parquetNames(java.nio.file.Paths.get(root))
    }
    names.map(Identifier.of(namespace, _)).toArray
  }

  // ---- read-only: reference parity (KafkaConnector.java:83-87) ----
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")

  // ---- namespaces = projects ----
  override def listNamespaces(): Array[Array[String]] = metastore match {
    case Some(ms) => ms.listProjects.map(Array(_)).toArray
    case None => listFixtureNamespaces()
  }

  private def listFixtureNamespaces(): Array[Array[String]] = {
    val nested = graft.util.Fs.listDir(java.nio.file.Paths.get(root)) {
      _.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString)
        // Spark writes tables AS directories named <t>.parquet — those are
        // tables of the default project, not projects
        .filterNot(_.endsWith(".parquet"))
    }
    (defaultProject +: nested).distinct.map(Array(_)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    listNamespaces().exists(_.sameElements(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) {
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    }
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")
}
