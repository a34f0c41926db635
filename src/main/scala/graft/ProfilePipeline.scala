package graft


/** Diagnostic main (optimization rounds): time the LSH dedup family's
  * internal stages in isolation — attributes p02/p03's cost to index
  * build vs signatures vs banding vs candidate join vs verify join.
  * Run with SPARK_GRAFT_PROFILE_PASSES passes (min matters; pass 1 pays
  * codegen). Not part of the driver contract.
  */
object ProfilePipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    // the bench's session — profiled stage costs must be measured under
    // the same config the bench runs
    val spark = Harness.session(32, "graft-profilepipeline")
    Harness.warmUp(spark, sfDir)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    def time(tag: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      System.err.println(f"[pp] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s rows=$n")
    }
    (1 to passes).foreach { p =>
      System.err.println(s"[pp] ----- pass $p -----")
      // fresh caches each pass: same discipline as the bench family reset
      QueriesPipeline.releaseSharedCaches()
      time("corpus docs")(Corpus.docs(spark, sfDir).count())
      time("shingle index (shared)")(QueriesPipeline.sharedShingleHashes(spark, sfDir).count())
      time("shingle index again")(QueriesPipeline.sharedShingleHashes(spark, sfDir).count())
      val sh = QueriesPipeline.sharedShingleHashes(spark, sfDir)
      time("sizes groupBy")(sh.groupBy("doc_id").count().count())
      time("minhash sig")(QueriesPipeline.minhashSig(sh).count())
      time("bands")(QueriesPipeline.minhashBands(QueriesPipeline.minhashSig(sh)).count())
      time("band candidates")(QueriesPipeline.bandCandidates(sh).count())
      time("scored pairs (shared)")(QueriesPipeline.sharedScoredPairs(spark, sfDir).count())
      time("minhash pairs (=p03)")(QueriesPipeline.minhashPairs(spark, sfDir).count())
      time("p03 full entry")(SparkEntry.queries("p03_dedup_minhash_lsh")(spark, sfDir).count())
      time("p02 full entry")(SparkEntry.queries("p02_dedup_ngram_jaccard")(spark, sfDir).count())
      // p04 attribution (optimization r16): the typed-udaf signature
      // aggregate vs the block self-join + distinct
      time("p04 simhash sig (udaf)")(QueriesPipeline.simhashSigOnly(spark, sfDir).count())
      time("p04 simhash sig (packed)")(QueriesPipeline.simhashSigPacked(
        QueriesPipeline.sharedShingleHashes(spark, sfDir)).count())
      time("p04 full entry")(SparkEntry.queries("p04_dedup_simhash")(spark, sfDir).count())
      time("pairStats (p02 core)")(QueriesPipeline.sharedPairStats(spark, sfDir).count())
    }
    spark.stop()
  }
}
