package graft

/** [[QueriesPipeline.sharedPairStats]] keeps only the pairs some consumer
  * can keep ([[QueriesPipeline.pairStatsKeep]]). p02's and p41's answers
  * over the unfiltered pair table must equal their registry answers, so a
  * prefilter narrower than the consumers' keeps fails here.
  */
class PairStatsKeepSpec extends SparkTestBase {

  private val byName = QueriesPipeline.all.map(q => q.name -> q.fn).toMap

  private val consumers = Seq(
    "p02_dedup_ngram_jaccard" -> QueriesPipeline.jaccardPairs _,
    "p41_dedup_containment" -> QueriesPipeline.containedPairs _)

  test("p02 and p41 answer the same from the unfiltered pair table") {
    val unfiltered = QueriesPipeline.pairStats(spark, sfDir)
    for ((entry, answer) <- consumers) {
      val want = answer(unfiltered).collect().toSeq
      val got = byName(entry)(spark, sfDir).collect().toSeq
      assert(want.nonEmpty, entry)
      assert(got == want, s"$entry: ${got.size} rows, ${want.size} from the unfiltered table")
    }
  }

  test("the prefilter keeps a pair that passes only one consumer's cut") {
    // on the fixtures every kept pair passes both cuts, so each disjunct of
    // the prefilter is pinned here by a pair that passes it alone
    val s0 = spark
    import s0.implicits._
    val stats = Seq(
      (1L, 2L, 6L, 8L, 8L),    // Jaccard 0.6 only
      (3L, 4L, 9L, 10L, 40L),  // id_a contained in id_b only
      (5L, 6L, 9L, 40L, 10L),  // id_b contained in id_a only
      (7L, 8L, 4L, 4L, 40L),   // below the containment size floor: neither
      (9L, 10L, 1L, 10L, 10L)) // neither
      .toDF("id_a", "id_b", "ni", "na", "nb")
    val kept = stats.filter(QueriesPipeline.pairStatsKeep)
    assert(kept.select("id_a").as[Long].collect().toSet == Set(1L, 3L, 5L))
    for ((entry, answer) <- consumers) {
      assert(answer(kept).collect().toSeq == answer(stats).collect().toSeq, entry)
    }
  }
}
