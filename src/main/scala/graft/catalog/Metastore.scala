package graft.catalog

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types.StructType

/** Dynamic schema registry: (project, collection) → fields.
  *
  * Parity: the reference's `Metastore.getCollection(project, collection)`
  * returning `List<SchemaField>` (reference `KafkaMetadata.java:157`,
  * JDBC/Postgres-backed via `MetastoreModule.java:34-44`). The rebuild keeps
  * the same contract as a plain trait; the JDBC implementation is a drop-in
  * (Spark ships a JDBC datasource) but tests use the in-memory/derived impls.
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

  /** Change fingerprint: equal values ⇒ the set of collections and their
    * schemas is unchanged, so derived registrations (e.g.
    * [[graft.GraftEngine.sql]]'s temp views) can be reused instead of
    * re-resolved per query. A NEGATIVE value means "unknown — always assume
    * changed" (the safe default for impls that can't track it cheaply).
    */
  def generation: Long

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
  private val gen = new java.util.concurrent.atomic.AtomicLong(0L)

  override def generation: Long = gen.get()

  def createCollection(project: String, collection: String, fields: Seq[SchemaField]): Unit = {
    store.put((project, collection), fields)
    gen.incrementAndGet()
  }

  override def getCollection(project: String, collection: String): Option[Seq[SchemaField]] =
    store.get((project, collection))

  override def listProjects: Seq[String] = store.keys.map(_._1).toSeq.distinct.sorted

  override def listCollections(project: String): Seq[String] =
    store.keys.collect { case (p, c) if p == project => c }.toSeq.sorted
}
