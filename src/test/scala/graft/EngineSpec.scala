package graft

import graft.catalog._

class EngineSpec extends SparkTestBase {

  test("metastore stores, lists, and normalizes field names") {
    val ms = new InMemoryMetastore
    ms.createCollection("demo", "pageviews",
      Seq(SchemaField("UserId", FieldType.LONG), SchemaField("URL", FieldType.STRING)))
    assert(ms.listProjects == Seq("demo"))
    assert(ms.listCollections("demo") == Seq("pageviews"))
    val st = ms.schemaOf("demo", "pageviews").get
    assert(st.fieldNames.toSeq == Seq("userid", "url"))
    assert(ms.getCollection("demo", "nope").isEmpty)
  }

  test("full schema carries the three hidden system columns first") {
    val ms = new InMemoryMetastore
    ms.createCollection("p", "c", Seq(SchemaField("x", FieldType.DOUBLE)))
    val full = ms.fullSchemaOf("p", "c").get
    assert(full.fieldNames.take(3).toSeq == Seq("_offset", "project", "collection"))
  }

  test("topic naming round-trips (project_collection)") {
    assert(SystemColumns.topicFor("proj", "coll_with_under") == "proj_coll_with_under")
    assert(SystemColumns.topicSplits("proj_coll_with_under") == Seq(("proj", "coll_with_under"),
      ("proj_coll", "with_under"), ("proj_coll_with", "under")))
    assert(SystemColumns.topicSplits("_a_").isEmpty)
  }

  test("engine.table hides system columns; tableWithSystemColumns exposes them") {
    val eng = GraftEngine.overFixtures(spark, sfDir)
    val visible = eng.table("tpch", "events")
    assert(!visible.columns.toSet.exists(SystemColumns.names))
    val full = eng.tableWithSystemColumns("tpch", "events")
    assert(SystemColumns.names.subsetOf(full.columns.toSet))
    // _offset on the fixture events table is the event_id stand-in
    val r = full.selectExpr("max(_offset) = max(event_id) as ok").head()
    assert(r.getBoolean(0))
  }

  test("entry returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }
}
