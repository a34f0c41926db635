package graft.catalog

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types.StructType

/** Dynamic schema registry: (project, collection) → fields.
  *
  * Parity: the reference's `Metastore.getCollection(project, collection)`
  * returning `List<SchemaField>` (reference `KafkaMetadata.java:157`,
  * JDBC/Postgres-backed via `MetastoreModule.java:34-44`). The rebuild keeps
  * the same contract as a plain trait, read-only from the engine's side like
  * the reference's: [[graft.GraftEngine.sql]] and [[GraftTableCatalog]] look
  * a collection up when a query names it, so an implementation keeps no
  * change counter and a write made behind its back is seen by the next
  * query.
  *
  * Deliberate fix over the reference: `listProjects`/`listCollections`
  * actually list. The reference returned empty lists by design
  * (`KafkaMetadata.java:69-74,91-97`), breaking discovery (SURVEY.md §4).
  */
trait Metastore {

  /** None ⇔ the reference's `TableNotFoundException` (`KafkaMetadata.java:159-161`). */
  def getCollection(project: String, collection: String): Option[Seq[SchemaField]]

  def listProjects: Seq[String]

  def listCollections(project: String): Seq[String]

  /** User-visible schema (lowercased names, reference `KafkaMetadata.java:171`). */
  final def schemaOf(project: String, collection: String): Option[StructType] =
    getCollection(project, collection).map(fs => StructType(fs.map(_.toStructField)))

  /** Full schema including the three hidden system columns, system columns
    * first — parity with `KafkaMetadata.getTableMetadata` column order
    * (`KafkaMetadata.java:163-172`).
    */
  final def fullSchemaOf(project: String, collection: String): Option[StructType] =
    schemaOf(project, collection).map(s => StructType(SystemColumns.fields ++ s.fields))
}

/** Thread-safe in-memory metastore; the default for tests and fixtures. */
final class InMemoryMetastore extends Metastore {
  private val store = TrieMap.empty[(String, String), Seq[SchemaField]]

  def createCollection(project: String, collection: String, fields: Seq[SchemaField]): Unit =
    store.put((project, collection), fields)

  override def getCollection(project: String, collection: String): Option[Seq[SchemaField]] =
    store.get((project, collection))

  override def listProjects: Seq[String] = store.keys.map(_._1).toSeq.distinct.sorted

  override def listCollections(project: String): Seq[String] =
    store.keys.collect { case (p, c) if p == project => c }.toSeq.sorted
}
