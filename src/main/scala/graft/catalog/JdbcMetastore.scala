package graft.catalog

import java.sql.{Connection, DriverManager, SQLException}

import graft.util.Retry

/** JDBC-backed metastore — reference parity with Rakam's Postgres-backed
  * schema registry (`MetastoreModule.java:37-42` binding `JDBCMetastore`,
  * Postgres driver in `pom.xml:167-171`). The rebuild keeps the identical
  * [[Metastore]] contract over any JDBC database; tests run it against
  * embedded Derby (bundled with Spark), production points `url` at
  * Postgres/MySQL.
  *
  * Layout: one row per collection in `graft_schema(project, collection,
  * schema_json)` holding the Spark DDL-JSON of the user schema (same
  * serialization as [[FileMetastore]]). Other writers (Rakam's collector
  * writes the registry itself) need no protocol beyond that row: every
  * lookup reads it.
  *
  * Control-plane calls go through [[Retry]] like the reference wrapped its
  * metastore access (`RetryDriver` use at
  * `KafkaConnectorPageSource.java:202-204`). Connections are per-call:
  * metastore traffic is a handful of driver-side lookups per query (one per
  * underscore split of each table name it uses), not a hot path;
  * correctness over pooling.
  */
final class JdbcMetastore(url: String, retry: Retry.Policy = Retry.Policy(maxAttempts = 3))
    extends Metastore {

  private def withConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Executes `sql` on `c` with `args` bound in order: the first column of
    * every row a query returns, nothing for an update.
    */
  private def exec(c: Connection, sql: String, args: String*): Seq[String] = {
    val ps = c.prepareStatement(sql)
    try {
      args.zipWithIndex.foreach { case (a, i) => ps.setString(i + 1, a) }
      if (!ps.execute()) Nil
      else {
        val rs = ps.getResultSet
        try Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
        finally rs.close()
      }
    } finally ps.close()
  }

  private def query(what: String, sql: String, args: String*): Seq[String] =
    Retry(what, retry)(withConn(exec(_, sql, args: _*)))

  // idempotent bootstrap: Derby has no CREATE TABLE IF NOT EXISTS, so the
  // already-exists state (a second instance, or a race) is tolerated
  try withConn(exec(_, """CREATE TABLE graft_schema (
                             project VARCHAR(255) NOT NULL,
                             collection VARCHAR(255) NOT NULL,
                             schema_json CLOB NOT NULL,
                             PRIMARY KEY (project, collection))"""))
  catch { case e: SQLException if e.getSQLState == "X0Y32" => () }

  def createCollection(project: String, collection: String, fields: Seq[SchemaField]): Unit =
    Retry(s"createCollection $project.$collection", retry) {
      withConn { c =>
        c.setAutoCommit(false)
        exec(c, "DELETE FROM graft_schema WHERE project = ? AND collection = ?",
          project, collection)
        exec(c, "INSERT INTO graft_schema (project, collection, schema_json) VALUES (?, ?, ?)",
          project, collection, SchemaField.toJson(fields))
        c.commit()
      }
    }

  override def getCollection(project: String, collection: String): Option[Seq[SchemaField]] =
    query(s"getCollection $project.$collection",
      "SELECT schema_json FROM graft_schema WHERE project = ? AND collection = ?",
      project, collection).headOption.map(SchemaField.fromJson)

  override def listProjects: Seq[String] =
    query("listProjects", "SELECT DISTINCT project FROM graft_schema ORDER BY project")

  override def listCollections(project: String): Seq[String] =
    query(s"listCollections $project",
      "SELECT collection FROM graft_schema WHERE project = ? ORDER BY collection", project)
}
