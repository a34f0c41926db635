package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Semantic contracts of the pipeline operators on the planted-duplicate
  * corpora (sf0.001). Value-level parity with DuckDB is covered by the
  * oracle gate; these specs pin the *recall* behavior: planted duplicates
  * must actually be found.
  */
class PipelineSpec extends SparkTestBase {

  private val byName = QueriesPipeline.all.map(q => q.name -> q.fn).toMap
  private def run(name: String): DataFrame = byName(name)(spark, sfDir)

  private lazy val nDocs = Tables.load(spark, sfDir, "documents").count()
  private lazy val exactPlanted = (0L until nDocs).count(_ % 7 == 0)
  private lazy val nearPlanted = (0L until nDocs).count(_ % 5 == 0)

  test("p01 recovers every planted exact duplicate group") {
    val rows = run("p01_dedup_exact").collect()
    assert(rows.length == exactPlanted)
    assert(rows.forall(_.getLong(1) == 2)) // each group = original + copy
  }

  test("p02/p03 recover planted near+exact pairs; minhash finds a subset of jaccard") {
    val jac = run("p02_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = run("p03_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair is present in the exact-jaccard result
    (0L until nDocs).filter(_ % 7 == 0).foreach(id =>
      assert(jac.contains((id, id + Corpus.ExactIdOffset)), s"missing exact pair $id"))
    (0L until nDocs).filter(_ % 5 == 0).foreach(id =>
      assert(jac.contains((id, id + Corpus.NearIdOffset)), s"missing near pair $id"))
    // LSH banding is a candidate filter over the same verification — subset
    assert(mh.subsetOf(jac))
    // and it must not lose the planted pairs (identical/near-identical
    // signatures collide in at least one band)
    (0L until nDocs).filter(_ % 7 == 0).foreach(id =>
      assert(mh.contains((id, id + Corpus.ExactIdOffset)), s"minhash missed exact pair $id"))
  }

  test("p21 df-cap: subset of p02, planted pairs survive, cap actually bites") {
    import org.apache.spark.sql.functions._
    val jac = run("p02_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = run("p21_dedup_jaccard_dfcap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // candidates only shrink under the cap; verification is identical
    assert(capped.subsetOf(jac))
    // planted duplicates share plenty of RARE shingles — none is lost
    (0L until nDocs).filter(_ % 7 == 0).foreach(id =>
      assert(capped.contains((id, id + Corpus.ExactIdOffset)), s"cap lost exact pair $id"))
    (0L until nDocs).filter(_ % 5 == 0).foreach(id =>
      assert(capped.contains((id, id + Corpus.NearIdOffset)), s"cap lost near pair $id"))
    // and the cap is not a no-op: some shingles really are hot
    val toks = split(lower(col("text")), " ")
    val docs = Corpus.docs(spark, sfDir)
    val shingles = docs.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2)))).as("s")).distinct()
    val hot = shingles.groupBy("s").count()
      .filter(col("count") > QueriesPipeline.JaccardDfCap).count()
    assert(hot > 0, "fixture has no hot shingles - cap untestable")
  }

  test("p04 simhash: exact copies at hamming 0") {
    val byPair = run("p04_dedup_simhash").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    (0L until nDocs).filter(_ % 7 == 0).foreach(id =>
      assert(byPair.get((id, id + Corpus.ExactIdOffset)).contains(0L),
        s"exact pair $id not at hamming 0"))
  }

  test("p05 finds every planted pair: identical AND merely-close (multi-probe recall)") {
    val nVecs = Tables.load(spark, sfDir, "embeddings").count()
    val exactIds = (0L until nVecs).filter(_ % 10 == 0)
    val nearIds = (0L until nVecs).filter(_ % 10 == 5)
    val rows = run("p05_embedding_neardup").collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    exactIds.foreach(id =>
      assert(pairs.contains((id, id + Corpus.ExactIdOffset)), s"missing exact pair $id"))
    // the 1.1-scaled copies are NOT bit-identical — some straddle an LSH
    // hyperplane; single-probe missed those, multi-probe must find them all
    nearIds.foreach(id =>
      assert(pairs.contains((id, id + Corpus.NearIdOffset)), s"missing near pair $id"))
    assert(rows.forall(_.getDouble(2) >= 0.999))
  }

  test("p05 multi-probe does real work: a planted near pair straddles buckets") {
    import org.apache.spark.sql.functions._
    import graft.functions.{GraftFunctions => GF}
    // recompute the sign-LSH buckets exactly as p05 does and check the
    // planted near pairs are NOT all co-bucketed — i.e. the single-probe
    // join provably misses at least one pair that p05 (above) finds
    val bucket = (0 until QueriesPipeline.HyperplaneParams.NearDupPlanes).map { j =>
      val planeCol = array(
        QueriesPipeline.HyperplaneParams.plane(j).map(x => lit(x.toDouble)): _*)
      when(GF.dotDecimal(col("embedding"), planeCol) > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    val v = Corpus.vecs(spark, sfDir).withColumn("bucket", bucket)
    val a = v.select(col("vec_id").as("ida"), col("bucket").as("ba"))
    val b = v.select(col("vec_id").as("idb"), col("bucket").as("bb"))
    val straddlers = a.join(b, col("idb") === col("ida") + Corpus.NearIdOffset)
      .filter(col("ba") =!= col("bb"))
      .withColumn("dist", bit_count(col("ba").bitwiseXOR(col("bb"))))
      .collect()
    assert(straddlers.nonEmpty, "no planted pair straddles buckets - lever untestable")
    // and all straddlers are within multi-probe's reach (hamming 1)
    assert(straddlers.forall(_.getAs[Int]("dist") == 1))
  }

  test("p06 exact top-k: planted twin ranks first for its query") {
    val rows = run("p06_similarity_topk").collect()
    val rank1 = rows.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // query 0 is divisible by 10 → has an identical twin at +ExactIdOffset
    assert(rank1(0L) == Corpus.ExactIdOffset)
    // 10 queries × 5 ranks
    assert(rows.length == 50)
  }

  test("p07 ANN: identical twin is always retrieved (same bucket), recall>0") {
    val ann = run("p07_similarity_ann_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ann.contains((0L, Corpus.ExactIdOffset)))
    // query 5's merely-close twin (1.1-scaled) can sit one hyperplane away;
    // query-side multi-probe still reaches it and it ranks in the top-5
    assert(ann.contains((5L, 5L + Corpus.NearIdOffset)))
    val exact = run("p06_similarity_topk").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ann.count(exact.contains).toDouble / exact.size
    info(f"ANN recall@5 vs exact baseline: $recall%.2f")
    assert(recall > 0.1)
  }

  test("p14 IVF nprobe=2: near twin retrieved even across a Voronoi boundary") {
    val ivf = run("p14_similarity_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.contains((0L, Corpus.ExactIdOffset)))
    assert(ivf.contains((5L, 5L + Corpus.NearIdOffset)))
  }

  test("p11 fingerprint groups == exact dup groups (normalization is identity here)") {
    assert(run("p11_text_fingerprint").count() == exactPlanted)
  }

  test("p12 multimodal: histogram counts sum to total bytes") {
    val total = run("p12_multimodal_features")
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
    val expected = Tables.load(spark, sfDir, "documents")
      .selectExpr("sum(length(text))").head().getLong(0)
    assert(total == expected)
  }

  test("p62 PNG decode is a REAL codec round-trip: pixels survive exactly") {
    // every decoded pixel statistic must equal the closed form the encoder
    // wrote — a lossy or broken codec path can't pass
    val rows = run("p62_multimodal_png_decode").collect()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val id = r.getLong(0)
      val px = (0 until 64).map(i => (id * 31 + i) % 256)
      assert(r.getLong(1) == 8 && r.getLong(2) == 8)
      assert(r.getLong(3) == px.sum)
      assert(r.getLong(4) == px.min && r.getLong(5) == px.max)
    }
  }

  test("p63 WAV decode round-trips signed 16-bit PCM exactly") {
    val rows = run("p63_multimodal_wav_decode").collect()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val id = r.getLong(0)
      val ss = (0 until 128).map(i => (id * 7 + i * 13) % 65536 - 32768)
      assert(r.getLong(1) == 128)
      assert(r.getLong(2) == ss.sum)
      assert(r.getLong(3) == ss.min && r.getLong(4) == ss.max)
    }
  }

  test("p64 training order is a permutation that spreads every source proportionally") {
    val rows = run("p64_training_order").collect()
    val n = rows.length.toLong
    assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to n)) // permutation
    // proportional interleave: any prefix of the order holds each source in
    // ~its corpus share. With key = rank/|s| the count of source s in the
    // key-t prefix is n_s*t ± O(1), so a position-N/2 prefix deviates by at
    // most a few docs per source — use #sources + 2 as the bound.
    val bySrc = rows.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    val k = bySrc.size
    val firstHalf = rows.filter(_.getLong(3) <= n / 2).groupBy(_.getString(1))
      .view.mapValues(_.length.toLong).toMap
    bySrc.foreach { case (src, nS) =>
      val expect = nS * (n / 2).toDouble / n
      val got = firstHalf.getOrElse(src, 0L).toDouble
      assert(math.abs(got - expect) <= k + 2,
        s"$src: $got in first half, expected ~$expect of $nS")
    }
  }

  test("p66 split is leakage-safe: no near-dup pair straddles train/val") {
    // rebuild the doc -> split map exactly as p66 assigns it (cluster =
    // keeper else self, split on cluster % 10), then check every verified
    // near-dup pair (p03's output, the same pair set the CC labels come
    // from) has both endpoints on the same side
    val keeper = run("p17_dedup_keeper").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def split(id: Long): Boolean = keeper.getOrElse(id, id) % 10 < 8
    val pairs = run("p03_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"pair ($a,$b) straddles the split")
    }
  }

  test("p67 IVF recall: one row per query, recall = hits/5, twin queries retrieve their twin") {
    val rows = run("p67_ivf_recall").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (nHit, recall) = (r.getLong(1), r.getDouble(2))
      assert(nHit >= 0 && nHit <= 5)
      assert(recall == nHit / 5.0)
    }
    // query 0's IDENTICAL twin shares its embedding exactly, so it lands in
    // the same coarse cell and must be retrieved: recall@5 > 0 for q_id 0
    assert(rows.find(_.getLong(0) == 0L).get.getLong(1) >= 1)
    // and the audit must agree with computing recall from p06/p14 directly
    val exact = run("p06_similarity_topk").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = run("p14_similarity_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    rows.foreach { r =>
      val q = r.getLong(0)
      val expect = exact.filter(_._1 == q).count(ivf.contains)
      assert(r.getLong(1) == expect, s"q$q: audit ${r.getLong(1)} vs direct $expect")
    }
  }

  test("p68 manifest agrees with p43 packing and its checksum is order-independent") {
    val manifest = run("p68_shard_manifest").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val packing = run("p43_shard_packing").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    // same shard set, same per-shard doc counts and byte totals
    assert(manifest.keySet == packing.keySet)
    packing.foreach { case (shard, (nDocs, chars)) =>
      assert(manifest(shard)._1 == nDocs && manifest(shard)._2 == chars)
    }
    // checksum replayed doc-by-doc in ANY order XORs to the same value
    val docs = Tables.load(spark, sfDir, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    def hash(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) { val cp = s.codePointAt(i); acc = (acc * 31 + cp) % 1000000007L; i += Character.charCount(cp) }
      acc
    }
    // rebuild shard assignment from the packing result's [first,last] ranges
    val ranges = run("p43_shard_packing").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val shardOf = (id: Long) => ranges.find(t => id >= t._2 && id <= t._3).get._1
    val expectSum = scala.util.Random.shuffle(docs.toList) // order-independence
      .groupBy { case (id, _) => shardOf(id) }
      .view.mapValues(_.map { case (id, t) => hash(s"$id:$t") }.reduce(_ ^ _)).toMap
    expectSum.foreach { case (shard, cks) =>
      assert(manifest(shard)._3 == cks, s"shard $shard checksum mismatch")
    }
  }

  test("p71 compaction manifest equals the XOR/sum fold of p68's part manifests") {
    val parts = run("p68_shard_manifest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = parts.groupBy(_._1 / 4).map { case (sup, g) =>
      sup -> (g.length.toLong, g.map(_._2).sum, g.map(_._3).sum,
        g.map(_._4).reduce(_ ^ _))
    }
    val got = run("p71_shard_compaction").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == expect)
  }

  test("p72 ablation: marginal <= alone, dedup (first gate) marginal == alone, all rules present") {
    val rows = run("p72_filter_ablation").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("1_dedup", "2_quality", "3_repetition", "4_contamination"))
    rows.values.foreach { case (alone, marg) => assert(marg <= alone) }
    // the first gate in sequence has nothing upstream to shadow it
    assert(rows("1_dedup")._1 == rows("1_dedup")._2)
    // the gates must actually fire on the planted corpus
    assert(rows("1_dedup")._1 > 0 && rows("2_quality")._1 > 0)
    // marginal counts are disjoint removals — they can't exceed the corpus
    assert(rows.values.map(_._2).sum <= Corpus.docs(spark, sfDir).count())
  }

  test("p73 manifest diff: statuses partition the buckets; reprocess set excludes unchanged docs") {
    val rows = run("p73_manifest_diff").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet.subsetOf(Set("added", "removed", "changed", "unchanged")))
    // at least one edit class must surface, and edits must be LOCAL:
    // some bucket stays unchanged (the whole point of a manifest diff)
    assert(rows.contains("changed") || rows.contains("added"))
    assert(rows.get("unchanged").exists(_._1 > 0))
    // removed buckets contribute zero docs to reprocess
    rows.get("removed").foreach { case (_, docs) => assert(docs == 0L) }
    // reprocess load is only changed+added, strictly less than v2's size
    val reprocess = rows.getOrElse("changed", (0L, 0L))._2 + rows.getOrElse("added", (0L, 0L))._2
    val total = rows.values.map(_._2).sum
    assert(reprocess < total)
  }

  test("p74 review queue: exact twins head the queue with jac = containment = 1") {
    val rows = run("p74_pair_review_queue").collect()
    assert(rows.length == 20)
    // planted exact copies (id, id + ExactIdOffset) rank first, perfect on
    // both measures
    val head = rows.head
    assert(head.getDouble(5) == 1.0 && head.getDouble(6) == 1.0)
    assert(head.getLong(1) == head.getLong(0) + Corpus.ExactIdOffset)
    // containment dominates jaccard everywhere (ni/min >= ni/union)
    rows.foreach(r => assert(r.getDouble(6) >= r.getDouble(5) - 1e-12))
    // the queue is sorted by jac desc
    val jacs = rows.map(_.getDouble(5))
    assert(jacs.zip(jacs.tail).forall { case (a, b) => a >= b })
  }

  test("p69 incremental IVF: occupancy conserves corpus and batch counts against frozen centroids") {
    val rows = run("p69_ivf_incremental").collect()
    val nVecs = Corpus.vecs(spark, sfDir).count()
    val nBatch = Corpus.vecs(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 7 === 2).count()
    assert(rows.map(_.getLong(1)).sum == nVecs)   // every standing vector assigned
    assert(rows.map(_.getLong(2)).sum == nBatch)  // every ingested vector assigned
    assert(rows.forall(r => r.getLong(0) >= 100 && r.getLong(0) < 116)) // frozen cells only
  }

  test("p70 PQ distortion: every subspace accounts for all vectors; distortion is a valid cosine") {
    val rows = run("p70_pq_distortion").collect()
    val bySub = rows.groupBy(_.getInt(0))
    assert(bySub.keySet == Set(0, 1, 2, 3))
    bySub.values.foreach(g => assert(g.map(_.getLong(2)).sum == 100L))
    rows.foreach { r =>
      val code = r.getLong(1)
      assert(code >= 0 && code < 16)
      val avg = r.getDouble(3)
      assert(avg >= -1.0 - 1e-9 && avg <= 1.0 + 1e-9)
    }
    // the codebook must beat chance on this clustered fixture: the best
    // per-cell mean subvector cosine is well above the ~0 a random
    // 16-dim codebook would give (measured ≈ 0.64 at sf0.001)
    assert(rows.map(_.getDouble(3)).max > 0.4)
  }

  test("materialized corpus index is row-identical to the freshly built index") {
    // s21 probes the JVM-lifetime materialized index; a staleness or
    // schema drift bug there would silently change streaming-ingest
    // verdicts, so pin parquet round-trip == inline construction.
    import org.apache.spark.sql.DataFrame
    val fresh = QueriesPipeline.corpusIndex(
      QueriesPipeline.sharedShingleHashes(spark, sfDir))
    val mat = QueriesPipeline.materializedCorpusIndex(spark, sfDir)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(mat.sh) == rows(fresh.sh))
    assert(rows(mat.bands) == rows(fresh.bands))
    assert(rows(mat.sizes) == rows(fresh.sizes))
    // parquet round-trips widen nullability; names/types must not drift
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(mat.sh) == shape(fresh.sh))
    assert(shape(mat.bands) == shape(fresh.bands))
    assert(shape(mat.sizes) == shape(fresh.sizes))
  }

  test("a corpus rewritten in place rebuilds the shared intermediates over its new rows") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val tmp = Files.createTempDirectory("graft-stale-corpus")
    try {
      val dir = tmp.toString
      for (n <- Seq("documents", "embeddings"))
        Files.copy(java.nio.file.Paths.get(s"$sfDir/$n.parquet"), tmp.resolve(s"$n.parquet"))
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      val sizes = rows(QueriesPipeline.sharedShingleSizes(spark, dir))
      // rewritten behind Spark's back, as a regenerated fixture is: Spark's
      // own writer would refresh the caches over the path it writes
      val next = tmp.resolve("next")
      Tables.load(spark, sfDir, "documents").filter(col("doc_id") % 2 === 0)
        .write.parquet(next.toString)
      Files.delete(tmp.resolve("documents.parquet"))
      Files.move(next, tmp.resolve("documents.parquet"))
      // checkpointed, so no cached plan over the same path can serve it
      val docs = Corpus.docs(spark, dir).localCheckpoint()
      val wantSizes = rows(QueriesPipeline.shingleHashes(docs)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
      assert(wantSizes.nonEmpty && wantSizes.size < sizes.size)
      // a stale entry served as is, or one rebuilt without unpersisting it
      // first (Spark's cache matches the rebuilt plan to it), fails here
      assert(rows(QueriesPipeline.sharedShingleSizes(spark, dir)) == wantSizes)
    } finally graft.util.Fs.deleteRecursively(tmp)
  }
}
