package graft

/** The mains' shared harness: entry selection and the entry loop. */
class HarnessSpec extends SparkTestBase {

  test("a selector prefix that matches no entry throws and names the prefix") {
    for (sel <- Seq("zz", "p0,zz", " , ")) {
      val e = intercept[IllegalArgumentException](Harness.select(sel))
      assert(e.getMessage.contains(s"'$sel' matches no registry entry"), e.getMessage)
      if (sel.contains("zz")) assert(e.getMessage.endsWith("for zz"), e.getMessage)
    }
  }

  test("p0 selects exactly the sorted p0* names") {
    val want = SparkEntry.queries.keys.filter(_.startsWith("p0")).toSeq.sorted
    assert(want.size == 9 && want.head.startsWith("p01_") && want.last.startsWith("p09_"))
    assert(Harness.select("p0") == want)
    assert(Harness.select("p09, p01") == Seq(want.head, want.last))
  }

  test("the entry loop keeps going past a failed entry and releases at family boundaries") {
    val pinned = spark.range(10).persist()
    pinned.count()
    var ran = Seq.empty[String]
    val out = Harness.runEntries(spark, Seq("a1", "a2", "b1"), "harness-spec") { name =>
      ran :+= name
      if (name == "a2") sys.error("boom")
      if (name == "b1") assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      spark.range(1).toDF()
    }
    assert(ran == Seq("a1", "a2", "b1"))
    assert(out.map(_._1) == ran)
    // b1's own check failing would have turned its result into None
    assert(out.map(_._2.isDefined) == Seq(true, false, true))
  }
}
