package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

class TableCatalogSpec extends SparkTestBase {

  private def withCatalog[T](f: => T): T = {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", sfDir)
    f
  }

  test("spark.sql resolves graft.<project>.<collection> via the DSv2 catalog") {
    withCatalog {
      val n = spark.sql("SELECT count(*) AS n FROM graft.tpch.lineitem").head().getLong(0)
      assert(n == Tables.load(spark, sfDir, "lineitem").count())
      // pushdown goes through Spark's native parquet DSv2 scan
      val plan = spark.sql(
        "SELECT l_orderkey FROM graft.tpch.lineitem WHERE l_quantity > 49")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,49.0)]"), plan)
    }
  }

  test("SHOW TABLES lists collections; missing table raises TableNotFound parity") {
    withCatalog {
      val tables = spark.sql("SHOW TABLES IN graft.tpch").collect().map(_.getString(1)).toSet
      assert(Set("lineitem", "orders", "events", "documents").subsetOf(tables))
      val e = intercept[Exception](spark.sql("SELECT * FROM graft.tpch.nope").collect())
      assert(e.getMessage.toLowerCase.contains("table") || e.getMessage.contains("nope"))
    }
  }

  test("deep namespaces raise NoSuchNamespace instead of silently resolving flat") {
    withCatalog {
      // before the fix, graft.a.b.lineitem fell through to <root>/lineitem.parquet
      val e = intercept[Exception](
        spark.sql("SELECT count(*) FROM graft.a.b.lineitem").collect())
      val msg = e.getMessage.toLowerCase
      assert(msg.contains("namespace") || msg.contains("not found")
        || msg.contains("cannot be found"), e.getMessage)
      intercept[Exception](spark.sql("SHOW TABLES IN graft.a.b").collect())
    }
  }

  private def withMetastoreCatalog[T](source: String = "parquet")(f: => T): T = {
    val ms = java.nio.file.Files.createTempDirectory("graft-ms").toString
    val store = new graft.catalog.FileMetastore(ms)
    val eventsSchema = Tables.load(spark, sfDir, "events").schema
    store.createCollection("tpch", "events",
      graft.catalog.SchemaField.fromStructType(eventsSchema))
    spark.conf.set("spark.sql.catalog.graftms", "graft.catalog.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graftms.metastore", ms)
    spark.conf.set("spark.sql.catalog.graftms.source", source)
    spark.conf.set("spark.sql.catalog.graftms.sourceRoot", sfDir)
    f
  }

  test("metastore mode: spark.sql gets _offset pushdown through the DSv2 scan") {
    withMetastoreCatalog() {
      val q = spark.sql(
        "SELECT count(*) AS n FROM graftms.tpch.events WHERE _offset >= 200 AND _offset < 700")
      val plan = q.queryExecution.executedPlan.toString
      // the table resolves to the native parquet read: the _offset bounds
      // are pushed through the system-column alias into the FILE scan (on
      // the offset stand-in column), with no RDD conversion node
      assert(plan.contains("GreaterThanOrEqual(event_id,200)")
        && plan.contains("LessThan(event_id,700)"), plan)
      assert(plan.contains("FileScan parquet") && !plan.contains("RowDataSourceScan"), plan)
      val expected = Tables.load(spark, sfDir, "events")
        .filter(col("event_id") >= 200 && col("event_id") < 700).count()
      // sf0.001 events carry event_id 0..999: the window must hold rows
      assert(expected > 0)
      assert(q.head().getLong(0) == expected)
    }
  }

  /** A parquet-backed metastore catalog `name` in session `s` over the
    * fixtures in `dir`, declaring `events`. Spark caches catalogs by name
    * per session, so a name serves one `dir`.
    */
  private def parquetCatalog(name: String, dir: String, s: SparkSession = spark): String = {
    val ms = java.nio.file.Files.createTempDirectory(s"graft-ms-$name").toString
    new graft.catalog.FileMetastore(ms).createCollection("tpch", "events",
      graft.catalog.SchemaField.fromStructType(Tables.load(spark, dir, "events").schema))
    Map("" -> "graft.catalog.GraftTableCatalog", ".metastore" -> ms, ".source" -> "parquet",
      ".sourceRoot" -> dir).foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.$name$k", v) }
    name
  }

  // sf0.01 events carry event_id 0..9999, so every range below holds rows
  private val sf0_01 = "/root/testdata/sf0.01"

  /** The rows of `sql` over the catalog table `cat.tpch.events`, and of the
    * same query over `Tables.load` with `_offset` spelled `event_id`.
    */
  private def againstLoad(cat: String, sql: String): (Seq[String], Seq[String]) = {
    Tables.load(spark, sf0_01, "events").createOrReplaceTempView("events_ref")
    def rows(q: String) = spark.sql(q).collect().map(_.toString).toSeq.sorted
    (rows(sql.replace("$t", s"$cat.tpch.events")),
      rows(sql.replace("$t", "events_ref").replace("_offset", "event_id")))
  }

  test("metastore mode: a self-join of a file-backed table matches the source read") {
    val cat = parquetCatalog("graftself", sf0_01)
    val sql = """SELECT a._offset, a.user_id, a.event_type, b._offset AS prev, b.user_id, b.event_type
                 FROM $t a JOIN $t b ON a._offset = b._offset + 1
                 WHERE a._offset >= 2000 AND a._offset < 2500"""
    val (got, want) = againstLoad(cat, sql)
    assert(got.size == 500 && got == want)
    // both sides read one cached source plan; resolved in the Resolution
    // batch, they get disjoint attribute ids like any repeated relation
    val reads = spark.sql(sql.replace("$t", s"$cat.tpch.events")).queryExecution.analyzed
      .collectLeaves().map(_.output.map(_.exprId).toSet)
    assert(reads.size == 2 && (reads.head & reads.last).isEmpty, reads)
  }

  test("metastore mode: a multi-range OR window over a file-backed table matches the source read") {
    val cat = parquetCatalog("graftor", sf0_01)
    val q = spark.sql(s"SELECT _offset FROM $cat.tpch.events " +
      "WHERE _offset < 100 OR (_offset >= 2000 AND _offset < 2500) OR _offset >= 9000")
    assert(q.collect().map(_.getLong(0)).toSet ==
      ((0L until 100L) ++ (2000L until 2500L) ++ (9000L until 10000L)).toSet)
    val (got, want) = againstLoad(cat,
      """SELECT _offset, event_type, user_id FROM $t
         WHERE _offset < 100 OR (_offset >= 2000 AND _offset < 2500) OR _offset >= 9000""")
    assert(got.size == 1600 && got == want)
  }

  test("a session without GraftExtensions fails loudly on a file-backed table") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = try SparkSession.builder().getOrCreate() finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(plain ne spark)
    val cat = parquetCatalog("graftfp", sfDir, plain)
    val e = intercept[Exception](plain.sql(s"SELECT count(*) FROM $cat.tpch.events").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null && m.contains("graft.GraftExtensions") &&
      m.contains("spark.sql.extensions")), msgs)
  }

  test("metastore mode resolves a NON-parquet (json) collection") {
    withMetastoreCatalog() {
      // declare a json-backed collection next to the parquet fixtures
      val dataDir = java.nio.file.Files.createTempDirectory("graft-json").toString
      val docs = Tables.load(spark, sfDir, "documents").limit(20)
      docs.coalesce(1).write.mode("overwrite").json(s"$dataDir/documents_json_tmp")
      val part = new java.io.File(s"$dataDir/documents_json_tmp").listFiles()
        .find(_.getName.endsWith(".json")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dataDir/documents.json"))
      val ms = java.nio.file.Files.createTempDirectory("graft-ms-json").toString
      new graft.catalog.FileMetastore(ms).createCollection("tpch", "documents",
        graft.catalog.SchemaField.fromStructType(docs.schema))
      spark.conf.set("spark.sql.catalog.graftjs", "graft.catalog.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.graftjs.metastore", ms)
      spark.conf.set("spark.sql.catalog.graftjs.source", "json")
      spark.conf.set("spark.sql.catalog.graftjs.sourceRoot", dataDir)
      assert(spark.sql("SELECT count(*) AS n FROM graftjs.tpch.documents").head().getLong(0) == 20L)
      // _offset synthesizes from doc_id and pushes down INTO the json scan
      val q = spark.sql("SELECT doc_id FROM graftjs.tpch.documents WHERE _offset < 5")
      assert(q.queryExecution.executedPlan.toString.contains("LessThan(doc_id,5)"))
      assert(q.collect().map(_.getLong(0)).toSet ==
        docs.filter(col("doc_id") < 5).collect().map(_.getLong(0)).toSet)
    }
  }

  test("metastore mode resolves a KAFKA-sourced collection: SQL over a topic with offset pruning") {
    // the reference's primary surface end-to-end: catalog.schema.table over
    // a topic, offset predicate pruned into the broker read — driven here
    // against the broker-free FakeKafka source through the REAL path
    import org.apache.spark.sql.types._
    val ms = java.nio.file.Files.createTempDirectory("graft-ms-kafka").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType)))
    new graft.catalog.FileMetastore(ms).createCollection("proj", "events",
      graft.catalog.SchemaField.fromStructType(schema))
    spark.conf.set("spark.sql.catalog.graftkf", "graft.catalog.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graftkf.metastore", ms)
    spark.conf.set("spark.sql.catalog.graftkf.source", "kafka")
    spark.conf.set("spark.sql.catalog.graftkf.bootstrap", "fake:9092")
    spark.conf.set("spark.sql.catalog.graftkf.codec", "json")
    spark.conf.set("spark.sql.catalog.graftkf.sourceFormat", "graft.sources.FakeKafka")
    spark.conf.set("spark.sql.catalog.graftkf.sourcePartitions", "2")
    spark.conf.set("spark.sql.catalog.graftkf.source.option.fake.partitions", "2")
    spark.conf.set("spark.sql.catalog.graftkf.source.option.fake.latest", "5000")
    val q = spark.sql(
      "SELECT count(*) AS n FROM graftkf.proj.events WHERE _offset >= 100 AND _offset < 600")
    val plan = q.queryExecution.executedPlan.toString
    // the pruned window reaches the (fake) broker scan as per-partition
    // starting/ending offsets — broker-side pruning, not a post-filter
    assert(plan.contains("startingOffsets=") && plan.contains("\"0\":100"), plan)
    assert(plan.contains("endingOffsets=") && plan.contains("\"0\":600"), plan)
    assert(q.head().getLong(0) == 500L * 2) // 500 offsets x 2 partitions
  }

  test("a kafka catalog rejects a minPartitions that is not a positive integer") {
    val ms = java.nio.file.Files.createTempDirectory("graft-ms-minparts").toString
    def init(v: String): Unit = new graft.catalog.GraftTableCatalog().initialize("graftmp",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
        "metastore", ms, "source", "kafka", "bootstrap", "fake:9092", "minPartitions", v)))
    for (bad <- Seq("0", "-3", "four", "2.5", "")) {
      val e = intercept[IllegalArgumentException](init(bad))
      assert(e.getMessage.contains("'minPartitions'") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    init("8")
  }

  test("metastore mode resolves a CSV collection with header validation") {
    val dataDir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dataDir/events.csv"),
      "event_id,event_type\n1,click\n2,view\n3,click\n".getBytes)
    val ms = java.nio.file.Files.createTempDirectory("graft-ms-csv").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    new graft.catalog.FileMetastore(ms).createCollection("proj", "events",
      graft.catalog.SchemaField.fromStructType(schema))
    spark.conf.set("spark.sql.catalog.graftcsv", "graft.catalog.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graftcsv.metastore", ms)
    spark.conf.set("spark.sql.catalog.graftcsv.source", "csv")
    spark.conf.set("spark.sql.catalog.graftcsv.sourceRoot", dataDir)
    val rows = spark.sql(
      "SELECT event_type, count(*) AS n FROM graftcsv.proj.events GROUP BY event_type ORDER BY event_type")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("click", 2L), ("view", 1L)))
    // _offset synthesizes from event_id and pushes INTO the csv-backed scan
    val q = spark.sql("SELECT event_id FROM graftcsv.proj.events WHERE _offset >= 2")
    assert(q.queryExecution.executedPlan.toString.contains("GreaterThanOrEqual(event_id,2)"))
    assert(q.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("metastore mode over the JDBC (Derby) metastore resolves through spark.sql") {
    val db = java.nio.file.Files.createTempDirectory("graft-catderby").resolve("ms").toString
    val url = s"jdbc:derby:$db;create=true"
    val eventsSchema = Tables.load(spark, sfDir, "events").schema
    new graft.catalog.JdbcMetastore(url).createCollection("tpch", "events",
      graft.catalog.SchemaField.fromStructType(eventsSchema))
    spark.conf.set("spark.sql.catalog.graftdb", "graft.catalog.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.graftdb.metastoreJdbc", url)
    spark.conf.set("spark.sql.catalog.graftdb.source", "parquet")
    spark.conf.set("spark.sql.catalog.graftdb.sourceRoot", sfDir)
    val n = spark.sql(
      "SELECT count(*) AS n FROM graftdb.tpch.events WHERE _offset < 500").head().getLong(0)
    val expected = Tables.load(spark, sfDir, "events").filter(col("event_id") < 500).count()
    assert(n == expected)
    val tables = spark.sql("SHOW TABLES IN graftdb.tpch").collect().map(_.getString(1)).toSet
    assert(tables == Set("events"))
  }

  test("catalog is read-only (reference parity)") {
    withCatalog {
      intercept[Exception](
        spark.sql("DROP TABLE graft.tpch.lineitem"))
    }
  }
}
