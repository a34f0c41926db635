package graft

import java.sql.{DriverManager, SQLException}

import graft.catalog.{FileMetastore, FieldType, JdbcMetastore, SchemaField}
import graft.util.{Retry, Scratch}

class CatalogSpec extends SparkTestBase {

  /** An embedded Derby database in a scratch dir, shut down before the dir
    * is deleted.
    */
  private def withDerby[T](body: String => T): T = Scratch.withDir("graft-derby") { d =>
    val db = d.resolve("ms").toString
    try body(s"jdbc:derby:$db;create=true")
    finally
      try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true").close()
      catch { case e: SQLException if e.getSQLState == "08006" => () } // Derby's "shut down"
  }

  test("FileMetastore persists, lists, and round-trips schemas") {
    Scratch.withDir("graft-ms") { dir =>
      val root = dir.toString
      val ms = new FileMetastore(root)
      ms.createCollection("demo", "clicks",
        Seq(SchemaField("UserId", FieldType.LONG), SchemaField("Tags", FieldType.ARRAY(FieldType.STRING))))
      ms.createCollection("demo", "views", Seq(SchemaField("x", FieldType.DOUBLE)))
      assert(ms.listProjects == Seq("demo"))
      assert(ms.listCollections("demo") == Seq("clicks", "views"))
      val st = ms.schemaOf("demo", "clicks").get
      assert(st.fieldNames.toSeq == Seq("userid", "tags"))
      // a second instance over the same root sees the same state (durability)
      assert(new FileMetastore(root).schemaOf("demo", "views").isDefined)
      assert(ms.getCollection("demo", "nope").isEmpty)
    }
  }

  test("JdbcMetastore (embedded Derby): same contract as InMemory/File") {
    withDerby { url =>
      val ms = new JdbcMetastore(url)
      ms.createCollection("demo", "clicks",
        Seq(SchemaField("UserId", FieldType.LONG), SchemaField("Tags", FieldType.ARRAY(FieldType.STRING))))
      ms.createCollection("demo", "views", Seq(SchemaField("x", FieldType.DOUBLE)))
      assert(ms.listProjects == Seq("demo"))
      assert(ms.listCollections("demo") == Seq("clicks", "views"))
      val st = ms.schemaOf("demo", "clicks").get
      assert(st.fieldNames.toSeq == Seq("userid", "tags"))
      assert(ms.getCollection("demo", "nope").isEmpty)
      // re-create (schema evolution) replaces
      ms.createCollection("demo", "clicks", Seq(SchemaField("UserId", FieldType.LONG)))
      assert(ms.schemaOf("demo", "clicks").get.fieldNames.toSeq == Seq("userid"))
      // a second instance over the same database sees the same state (durability)
      val ms2 = new JdbcMetastore(url)
      assert(ms2.schemaOf("demo", "views").isDefined)
      // and the engine runs on it end-to-end
      val eng = new GraftEngine(spark, ms, graft.sources.ParquetEventSource(sfDir))
      ms.createCollection("jdbcproj", "orders",
        SchemaField.fromStructType(Tables.load(spark, sfDir, "orders").schema))
      assert(eng.sql("SELECT count(*) AS n FROM jdbcproj_orders").head().getLong(0) > 0)
    }
  }

  test("JdbcMetastore: a row written into graft_schema by plain SQL is queryable by the next engine.sql") {
    withDerby { url =>
      val ms = new JdbcMetastore(url)
      ms.createCollection("sqlproj", "orders",
        SchemaField.fromStructType(Tables.load(spark, sfDir, "orders").schema))
      val eng = new GraftEngine(spark, ms, graft.sources.ParquetEventSource(sfDir))
      assert(eng.sql("SELECT count(*) FROM sqlproj_orders").head().getLong(0) > 0)
      // another writer (as Rakam's collector does) inserts the row itself
      val customer = Tables.load(spark, sfDir, "customer")
      val c = DriverManager.getConnection(url)
      try {
        val ins = c.prepareStatement(
          "INSERT INTO graft_schema (project, collection, schema_json) VALUES (?, ?, ?)")
        try {
          ins.setString(1, "sqlproj"); ins.setString(2, "customer")
          ins.setString(3, customer.schema.json)
          ins.executeUpdate()
        } finally ins.close()
      } finally c.close()
      assert(eng.sql("SELECT count(*) FROM sqlproj_customer").head().getLong(0) == customer.count())
    }
  }

  test("Retry: backs off with the reference's schedule, honors stopOn") {
    var calls = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val policy = Retry.Policy(maxAttempts = 4, sleep = delays += _)
    val r = Retry("flaky", policy) {
      calls += 1
      if (calls < 4) throw new RuntimeException("transient")
      42
    }
    assert(r == 42 && calls == 4)
    assert(delays.toSeq == Seq(1000L, 2000L, 4000L)) // 1s base, x2 (RetryDriver.java:31-34)

    var n = 0
    intercept[IllegalArgumentException] {
      Retry("fatal", policy.copy(stopOn = Seq(classOf[IllegalArgumentException]))) {
        n += 1; throw new IllegalArgumentException("no retry")
      }
    }
    assert(n == 1)
  }
}
