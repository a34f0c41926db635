package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.util.Retry

/** Durable metastore over a directory: one schema file per collection at
  * `<root>/<project>/<collection>.json` holding the Spark DDL-JSON of the
  * user schema. Plays the role of the reference's JDBC/Postgres metastore
  * (`MetastoreModule.java:34-44` binding `JDBCMetastore`) — the store is a
  * pluggable `Metastore` impl, and a JDBC one is a drop-in behind the same
  * trait. Reads go through [[Retry]] like the reference wrapped its
  * control-plane calls (`RetryDriver` use at
  * `KafkaConnectorPageSource.java:202-204`). A lookup reads the one schema
  * file it names, so a file written behind this API's back is seen by the
  * next query that names its collection.
  */
final class FileMetastore(root: String, retry: Retry.Policy = Retry.Policy(maxAttempts = 3))
    extends Metastore {

  private def dir(project: String): Path = Paths.get(root, project)
  private def file(project: String, collection: String): Path =
    dir(project).resolve(s"$collection.json")

  def createCollection(project: String, collection: String, fields: Seq[SchemaField]): Unit = {
    Files.createDirectories(dir(project))
    Files.write(file(project, collection),
      SchemaField.toJson(fields).getBytes(StandardCharsets.UTF_8))
  }

  override def getCollection(project: String, collection: String): Option[Seq[SchemaField]] =
    Retry(s"getCollection $project.$collection", retry) {
      val f = file(project, collection)
      if (!Files.exists(f)) None
      else Some(SchemaField.fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
    }

  override def listProjects: Seq[String] = graft.util.Fs.listDir(Paths.get(root)) {
    _.filter(Files.isDirectory(_)).map(_.getFileName.toString)
  }

  override def listCollections(project: String): Seq[String] =
    graft.util.Fs.listDir(dir(project)) {
      _.map(_.getFileName.toString).filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
    }
}
