package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Plan-quality regression guards: the properties SCALING.md claims must be
  * visible in the physical plan, pinned here so they can't silently rot.
  */
class ScaleSpec extends SparkTestBase {

  private val queries = SparkEntry.queries

  private def plan(name: String): String =
    queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), IsNotNull(p_type), " +
      "GreaterThanOrEqual(p_size,40), EqualTo(p_type,ECONOMY)]"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_type:string," +
      "p_size:int,p_retailprice:double>"), p)
  }

  test("q07: dimension joins are broadcast, fact side never shuffles for them") {
    val p = plan("q07_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q27: _offset predicate pushes through the system-column alias to the scan") {
    val p = plan("q27_offset_window")
    assert(p.contains("GreaterThanOrEqual(event_id,1000)") &&
      p.contains("LessThan(event_id,9000)"), p)
  }

  test("q19 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q19_top_k")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q30 as-of join: exactly one hash shuffle, no join operator at all") {
    val p = plan("q30_asof_join")
    assert(!p.contains("Join"), p) // union+window carry, not an inequality join
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q40: spark.sql _offset predicate reaches the native parquet scan, no V1 bridge") {
    val p = plan("q40_sql_offset_pushdown")
    // the file-backed table resolves at analysis to the source's own read:
    // the _offset bounds push through the system-column alias into the
    // parquet scan itself, the reader schema is pruned to the referenced
    // columns, and no RDD conversion node appears
    assert(p.contains("GreaterThanOrEqual(event_id,2000)")
      && p.contains("LessThan(event_id,7000)"), p)
    assert(p.contains("ReadSchema: struct<event_id:bigint,event_type:string>"), p)
    assert(p.contains("FileScan parquet") && !p.contains("RowDataSourceScan"), p)
  }

  test("p14 IVF assignment is map-side: one window (final top-k), no 16N shuffle") {
    val p = plan("p14_similarity_ivf")
    // exactly one Window — the final per-query top-5 rank; the
    // nearest-centroid argmax must NOT be a window (it would shuffle+sort
    // 16N rows on vec_id)
    assert(p.linesIterator.count(_.contains("Window [")) == 1, p)
    // no exchange keyed on vec_id anywhere (assignment stays map-side)
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
  }

  test("p20 k-means step: assignment map-side, one hash shuffle for the centroid update") {
    val p = plan("p20_kmeans_step")
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning(part")) == 1, p)
    assert(!p.contains("Window ["), p) // no window argmax anywhere
  }

  test("p26 bloom prefilter runs at the scan side, before the exact semi join") {
    val p = plan("p26_bloom_semi_join")
    // the probe is a broadcast of the one-row filter (nested-loop on 1 row),
    // applied BEFORE the semi join in the plan
    assert(p.contains("bloom_contains"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val probeAt = p.indexOf("bloom_contains")
    val semiAt = p.indexOf("LeftSemi")
    assert(probeAt >= 0 && semiAt >= 0 && probeAt < semiAt,
      s"probe not upstream of semi join:\n$p")
  }

  test("p27 PQ assignment is one map pass: broadcast centroids, no corpus shuffle") {
    val p = plan("p27_pq_codes")
    // all four sub-assignments evaluate in a projection over the corpus
    // against a broadcast row — the only exchange is the final tiny sort
    assert(p.contains("nearest_seeds"), p)
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    assert(!p.contains("Window ["), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // explicit paths → external tables; the (static) warehouse dir is unused
    val wh = Files.createTempDirectory("graft-wh").toString
    val s0 = spark
    val o = Tables.load(s0, sfDir, "orders")
    val c = Tables.load(s0, sfDir, "customer")
    o.write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    c.write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/b_customer").saveAsTable("b_customer")
    try {
      // disable broadcast so the join would otherwise shuffle both sides
      s0.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = s0.table("b_orders")
        .join(s0.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      // bucket pruning: neither join input has a shuffle exchange
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(o_custkey"), p)
      assert(!joinSection.contains("Exchange hashpartitioning(c_custkey"), p)
      // and results are right
      assert(joined.agg(sum("n")).head().getLong(0) == o.count())
    } finally {
      s0.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s0.sql("DROP TABLE IF EXISTS b_orders")
      s0.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("AQE splits a skewed sort-merge join automatically (the pre-salting line of defense)") {
    val s0 = spark
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> s0.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> s0.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s0.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> s0.conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> s0.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.shuffle.partitions" -> s0.conf.get("spark.sql.shuffle.partitions"))
    // thresholds scaled DOWN to the fixture so its worst case trips the
    // same rule a 100 TB hot key trips under production config. Three
    // conditions the real rule demands, learned the hard way: (1) skew is
    // judged against the MEDIAN non-trivial partition, so the hot key
    // must sit NEXT TO normal keys (all-on-one-key means median = max —
    // never flagged); (2) splits happen at MAP-TASK granularity, so the
    // hot partition must come from several mappers (repartition(8) stands
    // in for the many input splits any real table has); (3) the rule
    // pattern-matches Sort-over-shuffle-stage directly — a distinct or
    // aggregate between them opts the join out of skew handling.
    s0.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s0.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
    s0.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    s0.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s0.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s0.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val fact = Tables.load(s0, sfDir, "lineitem")
        .repartition(8)
        .select(least(col("l_orderkey") % 64, lit(7)).as("k"), col("l_extendedprice"))
      val dim = Tables.load(s0, sfDir, "nation")
        .filter(col("n_nationkey") < 8)
        .select(col("n_nationkey").cast("bigint").as("k"))
      val j = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("t"))
      // collect() (not head(): head wraps a NEW limited plan) so the
      // adaptive plan below is the one that actually executed
      assert(j.collect()(0).getLong(0) == fact.count()) // result unchanged by the split
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p) // OptimizeSkewedJoin rewrote the join
    } finally prev.foreach { case (k, v) => s0.conf.set(k, v) }
  }

  test("dynamic partition pruning: a dim filter prunes fact PARTITIONS at the scan") {
    val s0 = spark
    val wh = Files.createTempDirectory("graft-dpp").toString
    Tables.load(s0, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), (col("o_custkey") % 10).as("pk"))
      .write.mode("overwrite").partitionBy("pk").parquet(wh)
    try {
      val fact = s0.read.parquet(wh)
      // the dim must carry a SELECTIVE FILTER — PartitionPruning's benefit
      // heuristic requires one (a bare one-row local relation does not
      // qualify) and the dim must be small relative to the fact
      val dim = Tables.load(s0, sfDir, "nation")
        .filter(col("n_nationkey") < 5)
        .select(col("n_nationkey").cast("int").as("st"))
      val j = fact.join(broadcast(dim), col("pk") === col("st"))
        .agg(count(lit(1)).as("n"))
      val want = Tables.load(s0, sfDir, "orders")
        .filter(col("o_custkey") % 10 < 5).count()
      assert(j.collect()(0).getLong(0) == want)
      // pruning happened AT THE SCAN via the reused broadcast: the fact
      // scan's PartitionFilters carry a dynamicpruning expression, so
      // non-matching directories are never listed or read — at 100 TB the
      // difference between scanning 5 partitions and the whole table
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"), p)
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(wh))
  }

  test("q46 sessionize: ONE data shuffle on user_id feeds both windows and both aggs") {
    val p = plan("q46_sessionize")
    // lag window, cumsum window, per-session agg, per-user rollup — all
    // partitioned compatibly; only the final presentation sort re-ranges
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q48 gap-fill: the day spine joins broadcast, no shuffle join") {
    val p = plan("q48_gapfill")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p29 TF-IDF: per-doc top-3 is WindowGroupLimit (pushed partial), df join broadcast") {
    val p = plan("p29_tfidf_top_terms")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p30 token zipf: global top-40 is TakeOrderedAndProject, not a full sort") {
    val p = plan("p30_token_zipf")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q45 lateral: the correlated derived table decorrelates into a join, no per-row subquery") {
    val p = plan("q45_lateral_join")
    assert(p.contains("Join"), p)
    assert(!p.toLowerCase.contains("subquery"), p)
  }

  test("q57: NOT IN plans the null-aware anti join (broadcast single-column)") {
    val p = plan("q57_not_in_null_semantics")
    // trailing `true` on the LeftAnti BHJ = isNullAwareAntiJoin
    assert(p.contains("LeftAnti, BuildRight, true"), p)
  }

  test("q51 latest-by-key: map-side argmax (partial max_by), no window sort") {
    val p = plan("q51_latest_by_key")
    assert(p.contains("partial_max_by") || p.contains("partial_max("), p)
    assert(!p.contains("Window"), p)
  }

  test("bucketed shingle index: the dedup self-join runs shuffle-free over the materialized index") {
    // SCALING.md's 100 TB answer for the dedup family, made executable: the
    // inverted index (doc_id, h) is written ONCE bucketed by h; every
    // downstream candidate join then reads co-located buckets instead of
    // shuffling the index per query. The self-join over the bucketed table
    // must plan with NO exchange on h, and its pair counts must equal the
    // in-memory index's.
    val wh = Files.createTempDirectory("graft-shwh").toString
    val s0 = spark
    val idx = QueriesPipeline.sharedShingleHashes(s0, sfDir)
    idx.write.mode("overwrite").bucketBy(4, "h").sortBy("h")
      .option("path", s"$wh/sh_idx").saveAsTable("sh_idx")
    try {
      s0.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // ONE construction for both the plan-asserted and the reference join
      def pairs(sh: org.apache.spark.sql.DataFrame) = sh
        .select(col("doc_id").as("id_a"), col("h"))
        .join(sh.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
        .filter(col("id_a") < col("id_b"))
      val joined = pairs(s0.table("sh_idx"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning(h"), p)
      assert(joined.count() == pairs(idx).count())
    } finally {
      s0.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s0.sql("DROP TABLE IF EXISTS sh_idx")
    }
  }

  test("skew-join salting: salted replicate-join is exact and keys the shuffle on (k, salt)") {
    // the manual remedy for a hot join key when AQE skew-split can't apply
    // (e.g. the skewed side feeds an aggregation on the same key): salt the
    // big side with a deterministic per-row hash, replicate the small side
    // across all salt values, join on (k, salt) — S-way fan-out of the hot
    // key at the cost of |dim|×S build rows. Results must be EXACTLY the
    // plain join's.
    import spark.implicits._
    val S = 8
    val s0 = spark
    val big = Tables.load(s0, sfDir, "lineitem")
      .select(col("l_returnflag").as("k"), col("l_quantity"))
    val dim = Seq(("A", 1L), ("N", 2L), ("R", 3L)).toDF("k", "w")
    s0.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = big.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity") * col("w")).as("t"))
        .head()
      val salted = big
        .withColumn("salt", pmod(hash(col("k"), col("l_quantity"), rand(7)), lit(S)))
        .join(dim.crossJoin(
          s0.range(S).select(col("id").cast("int").as("salt"))), Seq("k", "salt"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity") * col("w")).as("t"))
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin [k#") || p.contains("SortMergeJoin"), p)
      // the shuffle key includes the salt → the hot key fans out S ways
      assert(p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("salt")), p)
      val r = salted.head()
      assert(r.getLong(0) == plain.getLong(0))
      assert(math.abs(r.getDouble(1) - plain.getDouble(1)) < 1e-6,
        s"salted=${r.getDouble(1)} plain=${plain.getDouble(1)}")
    } finally s0.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("p37 source quota: rank<=K pushes into the sort as WindowGroupLimit") {
    val p = plan("p37_source_quota")
    // map partitions keep only their local top-K per source; the reducer
    // sees O(sources × K), not the corpus
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("p38 chunking is map-side: no exchange below the output sort") {
    val p = plan("p38_doc_chunking")
    // exactly one Exchange — the rangepartitioning for the final ORDER BY;
    // the chunker itself (sequence/transform/explode/substr) never shuffles
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      p)
  }

  test("p39 packing: window and bin aggregation share ONE hash exchange") {
    val p = plan("p39_sequence_packing")
    // the running-sum window partitions by source; groupBy(source, bin) is
    // satisfied by the same hashpartitioning(source) — no second shuffle
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    // and the window is NEVER a global single-partition sort
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("p40 collocations: unigram margins broadcast onto the bigram counts") {
    val p = plan("p40_bigram_collocations")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // top-40 by count is TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q62 ROWS frame: one hash shuffle on the key, filter pushed to the scan") {
    val p = plan("q62_window_rows_frame")
    assert(p.contains("LessThan(o_custkey,100)"), p)
    // the frame sum and count share one Window over one hashpartitioning;
    // the only other exchange is the final ORDER BY's rangepartitioning
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(p.linesIterator.count(_.contains("Window [")) == 1, p)
  }

  test("p41 containment: candidates from the shingle-index equi-join, never all-pairs") {
    val p = plan("p41_dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the candidate join is an EQUI-join keyed on the shingle hash
    // (broadcast at fixture scale; shuffled on h at corpus scale, exactly
    // p02's shape) — never a cross product
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("p34: levenshtein kernel evaluates once, on an explicit-width exchange") {
    // pin the PRE-barrier kernel stage: the entry checkpoints it, so the
    // final query plan no longer exposes the kernel
    val p = QueriesPipeline.editDistanceScored(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the O(L²) kernel must appear in exactly ONE projection — the pre-r8
    // shape computed it 3× (ed, rel_ed, filter), and a pushed-down filter
    // that substitutes the alias would reintroduce an evaluation inside
    // the candidate join, below the width pin
    assert(p.linesIterator.count(_.contains("levenshtein(")) == 1, p)
    // the exchange feeding it is the entry's own explicit-width
    // repartition, which AQE's size-based coalescing must leave alone —
    // tiny-byte/expensive-row stages die serially otherwise (SCALING.md r8)
    assert(p.contains("REPARTITION_BY_NUM"), p)
  }

  test("q63 null-safe join: EqualNullSafe is a hashable join key, not a filter") {
    val p = plan("q63_null_safe_join")
    // <=> must plan as an equi-join (hash/sort-merge on the null-safe
    // key) — a nested-loop join with a residual would scan a×b at scale
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q64 Q2 shape: the correlated min decorrelates into an aggregate join") {
    val p = plan("q64_tpch_q2_min_supplier")
    // RewriteCorrelatedScalarSubquery: ONE min-aggregate over lineitem
    // joined back on l_partkey — never a per-outer-row subquery execution
    assert(p.contains("min(l_extendedprice"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // region/nation/supplier dimension chain broadcasts onto the fact
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q65 Q11 shape: threshold is ONE scalar subquery, dims broadcast, fact scan pruned") {
    val p = plan("q65_tpch_q11_value_share")
    // the global threshold executes once as a scalar subquery, never a
    // per-row probe; re-used as a literal by the filter
    assert(p.linesIterator.count(_.contains("+- Subquery subquery")) == 1, p)
    assert(!p.contains("SortMergeJoin"), p) // every dim side broadcasts
    assert(p.contains("ReadSchema: struct<l_suppkey:bigint,l_extendedprice:double>"), p)
  }

  test("q66 Q15 shape: subquery reduces to a scalar max, quantity filter pushed") {
    val p = plan("q66_tpch_q15_top_supplier")
    assert(p.contains("functions=[max(total_revenue"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)"), p)
    assert(p.contains("BroadcastHashJoin"), p) // supplier side broadcasts
  }

  test("q67 Q21 shape: EXISTS/NOT EXISTS plan as semi and anti joins on one key") {
    val p = plan("q67_tpch_q21_waiting_supplier")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q69 Q22 shape: anti join + ONE scalar subquery pushed into the scan") {
    val p = plan("q69_tpch_q22_lost_customers")
    assert(p.contains("LeftAnti"), p)
    // one DISTINCT scalar subquery (it prints twice: at the Filter and at
    // the scan it is pushed into)
    val ids = "Subquery (subquery#\\d+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(ids.size == 1, p)
    // the threshold is pushed all the way into the parquet scan as a
    // dynamic filter — at 100 TB row groups below it never leave disk
    assert(p.contains("GreaterThan(c_acctbal,ScalarSubquery"), p)
    // orders feeds the anti join through its key column alone
    assert(p.contains("ReadSchema: struct<o_custkey:bigint>"), p)
  }

  test("q70 Q17 shape: correlated avg decorrelates to ONE per-part aggregate, no per-row probe") {
    val p = plan("q70_tpch_q17_small_qty_revenue")
    // RewriteCorrelatedScalarSubquery: the per-part threshold is a grouped
    // sum+count aggregate joined back on l_partkey with the `<` as the
    // join's residual — ONE extra keyed pass over lineitem, |part| rows out
    assert(p.contains("HashAggregate(keys=[l_partkey"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the brand filter prunes part AT THE SCAN, before any join
    assert(p.contains("PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#4)"), p)
  }

  test("q71 Q18 shape: HAVING-IN plans as semi joins against the aggregated key set") {
    val p = plan("q71_tpch_q18_large_volume_customer")
    // the qualifying-order set (grouped HAVING) is the semi join build
    // side; Catalyst pushes the SAME semi join onto orders AND lineitem,
    // so both facts are pruned before the main join
    assert(p.linesIterator.count(_.contains("LeftSemi")) >= 2, p)
    assert(p.contains("> 300.000000"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q72 Q20 shape: nested INs become layered semi joins, two-key correlation decorrelates") {
    val p = plan("q72_tpch_q20_part_promotion")
    // IN-inside-IN: part-name semi join under the ps rollup, supplier semi
    // join above it — never an expression-level IN evaluation
    assert(p.linesIterator.count(_.contains("LeftSemi")) >= 2, p)
    // the two-key correlated sum runs as ONE aggregate shuffled on
    // (l_partkey, l_suppkey), its threshold applied as a join residual
    assert(p.contains("hashpartitioning(l_partkey") && p.contains("l_suppkey"), p)
    assert(p.contains("StringStartsWith(p_name,small)"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p43 shard packing: corpus windows are bucket-partitioned; only the per-bucket table is global") {
    val p = plan("p43_shard_packing")
    // the distributed prefix-sum: the corpus-sized running sum is a window
    // PARTITIONED on bucket (shuffled on bucket, per-bucket sort)...
    assert(p.contains("Exchange hashpartitioning(bucket"), p)
    // ...and the ONLY single-partition stage is the exclusive prefix over
    // the per-BUCKET aggregate (#buckets rows), which then broadcasts back
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1, p)
    assert(p.contains("BroadcastHashJoin [bucket"), p)
  }

  test("p64 training order: global position is the p43 prefix-sum, never a corpus-wide single-partition window") {
    val p = plan("p64_training_order")
    // within-source rank and within-bucket rank shuffle on their keys —
    // the corpus-sized windows are always partitioned
    assert(p.contains("Exchange hashpartitioning(source"), p)
    assert(p.contains("Exchange hashpartitioning(bucket"), p)
    // the ONLY single-partition stage is the running sum over the
    // per-BUCKET count table (#buckets rows), broadcast back
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1, p)
    assert(p.contains("BroadcastHashJoin [bucket"), p)
  }

  test("p65 snapshot diff: one doc_id-keyed full-outer join, no window, no cartesian") {
    val p = plan("p65_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(p.contains("Exchange hashpartitioning(doc_id"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("p44 doc novelty: O(index) — no candidate pairs, bounded exchange count") {
    val p = plan("p44_doc_novelty")
    // novelty is df-counting over the shared index joined back on h — a
    // hot shingle adds rows to ONE group, it never fans out into pairs
    assert(!p.contains("id_a") && !p.contains("id_b"), p)
    // h-rollup, doc_id-rollup, plus the shared index's own build exchange.
    // Count DISTINCT partitioning signatures, not lines or plan_ids: the
    // cached subplan prints under both scans, and once materialized its
    // AdaptiveSparkPlan prints Final AND Initial sections whose copies of
    // the same exchange carry different plan_ids
    val exKeys = p.linesIterator
      .flatMap("Exchange hashpartitioning\\(([^)]*)\\)".r
        .findFirstMatchIn(_).map(_.group(1).replaceAll("#\\d+L?", ""))).toSet
    assert(exKeys.size <= 3, p)
  }

  test("p45 mixture allocation: corpus touched by ONE aggregate, windows over the source table only") {
    val p = plan("p45_mixture_allocation")
    // every keyed exchange is the per-source rollup (or a re-read of it);
    // the remainder-ranking window and both totals run on the bounded
    // #sources-row table, which broadcasts back
    assert(p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .forall(_.contains("source")), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("p46 PII redaction: per-row regex natives, only exchange is the bounded source rollup") {
    val p = plan("p46_pii_redaction")
    // detection+scrub must stay codegen'd scalar work in the scan stage —
    // every keyed exchange is the per-source rollup
    assert(p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .forall(_.contains("source")), p)
    assert(p.contains("regexp_replace"), p)
  }

  test("p47 temperature resampling: corpus touched by ONE rollup, weights on the bounded lang table") {
    val p = plan("p47_temperature_resampling")
    assert(p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .forall(_.contains("lang")), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p48 bigram LM: keyed exchanges only on the bigram key and doc_id, top-N is TakeOrdered") {
    val p = plan("p48_bigram_lm_score")
    // train = one (l,r) aggregate; score = (l,r) join + doc_id reduce —
    // no other keyed shuffle may appear, and the ranked output must be a
    // bounded TakeOrdered, never a global sort
    assert(p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .forall(l => (l.contains("l#") && l.contains("r#")) || l.contains("doc_id")), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p49 BPE merge step: only corpus-sized shuffle is the word-type count, pairs vocab-keyed") {
    val p = plan("p49_bpe_merge_step")
    // the w-keyed exchange is the Heaps-bounded type collapse (with
    // map-side partial counts); everything downstream keys on the
    // vocab-sized (l,r) pair space
    assert(p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .forall(l => l.contains("w#") || (l.contains("l#") && l.contains("r#"))), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q73 Q19 shape: the common equi-key is extracted from the disjunction, ORs pushed to scans") {
    val p = plan("q73_tpch_q19_disjunctive_join")
    // the partkey equality repeated in every disjunct becomes THE join key;
    // the brand/quantity/size disjunction stays a residual
    assert(p.contains("BroadcastHashJoin [l_partkey"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // each side's OR-of-local-predicates is pushed to ITS parquet scan
    assert(p.linesIterator.count(_.contains("Or(Or(And(")) >= 2, p)
  }

  test("q74 Q13 shape: join-side predicate stays on the join, customer scans its key alone") {
    val p = plan("q74_tpch_q13_custdist")
    assert(p.contains("LeftOuter"), p)
    // the priority filter prunes ORDERS at its scan but never touches
    // customer (outer-join semantics: zero-order customers survive)
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), p)
    assert(p.contains("ReadSchema: struct<c_custkey:bigint>"), p)
  }

  test("q75 Q7 shape: dims broadcast, one fact-fact shuffle at most, disjunction is a residual") {
    val p = plan("q75_tpch_q7_volume_shipping")
    // nation enters twice, both broadcast; the symmetric OR over the
    // (supplier-nation, customer-nation) pair must not force a
    // nested-loop join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4, p)
    // the shipdate window reaches the lineitem scan
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q76 Q8 shape: numerator and denominator share ONE aggregate pass") {
    val p = plan("q76_tpch_q8_market_share")
    // CASE-sum and total-sum must be columns of the same HashAggregate
    // (2 nodes = partial+final), not two plans over the fact table
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q77 Q10 shape: top-20 is TakeOrderedAndProject, order window pushed to the scan") {
    val p = plan("q77_tpch_q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"), p)
    // quarter window prunes ORDERS at its scan; returnflag prunes lineitem
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q78 Q14 shape: single global aggregate, no keyed shuffle, month pushed to the scan") {
    val p = plan("q78_tpch_q14_promo_revenue")
    // both sums fold map-side; the only exchange is the one-row gather
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Exchange SinglePartition"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q79 Q16 shape: NOT IN is the null-aware anti join, distinct count shuffles on bounded keys") {
    val p = plan("q79_tpch_q16_supplier_cnt")
    // trailing `true` on the LeftAnti BHJ = isNullAwareAntiJoin against
    // the tiny complained-supplier set
    assert(p.contains("LeftAnti, BuildRight, true"), p)
    // two keyed exchanges: (brand,type,size,suppkey) dedup then the
    // (brand,type,size) count — plus only the presentation range sort
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, p)
  }

  test("q80 Q6 shape: all three predicates reach the scan, only exchange is the one-row gather") {
    val p = plan("q80_tpch_q6_forecast_revenue")
    // the PushedFilters list is elided mid-string in toString, so pin the
    // pushdown by its (visible) head and the predicates via the Filter node
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"), p)
    assert(p.contains("< 24.0)"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("q81 Q5 shape: cyclic join graph resolves with broadcast dims, no nested loop") {
    val p = plan("q81_tpch_q5_local_supplier")
    // the c_nationkey = s_nationkey cycle edge must close inside hash
    // probes, never as a cartesian/BNLJ residual
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4, p)
    // the order-date year prunes ORDERS at its scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q82 Q9 shape: contains-LIKE evaluates at the part scan, derived-key rollup is partial") {
    val p = plan("q82_tpch_q9_product_profit")
    // '%widget%' can't prune row groups but DOES push to the scan
    assert(p.contains("StringContains(p_name,widget)"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // one aggregate pass (partial+final) over the joined fact
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
  }

  test("q83 Q12 shape: both CASE buckets fold in ONE aggregate pass, date window pushed") {
    val p = plan("q83_tpch_q12_shipmode_priority")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // high/low counts are columns of the same HashAggregate pair, not two
    // plans over the join
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
  }

  test("q68 salted skew join: shuffle keyed on (hot_key, salt), dim replicated, no broadcast") {
    val p = plan("q68_salted_skew_join")
    // the whole point is spreading the hot key: the join's exchange must
    // include the salt, and the join must be the hinted shuffled-hash (a
    // broadcast would sidestep the skew demonstration)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("hot_key") && l.contains("salt")), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("p42 semantic dedup: map-side assignment, pair join cluster-keyed") {
    val p = plan("p42_semantic_dedup")
    // the k-means assignment is the NearestSeeds broadcast fold — the
    // corpus is never shuffled by vector id
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    // candidate generation is an equi-join on the cluster key — bounded by
    // Σ|cluster|², never an all-pairs cross product. (The only nested-loop
    // join allowed is the ONE-ROW broadcast of the seed array — the same
    // legitimate shape as p14/p20.)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2, p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q88 stats backbone: six moments fold in one partial+final aggregate pair") {
    val p = plan("q88_stats_aggregates")
    // all six decimal moments are columns of the SAME map-side partial
    // aggregate — the shuffle carries one row per group, and the regression
    // formula is scalar projection above already-tiny data
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q89 bit/bool aggregates are map-side partial") {
    val p = plan("q89_bitwise_bool_agg")
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q91 windowed count-distinct: two keyed shuffles (first-seen flag " +
      "then running sum), no join, no per-row set") {
    val p = plan("q91_window_count_distinct")
    // the r10 100x gate caught the old size(collect_set() OVER) form
    // re-serializing the accumulated set per row — O(rows x distinct)
    // inside a 5-value partitioning. The linear form pays ONE extra
    // well-keyed shuffle: (event_type, user_id) for the first-seen
    // row_number, then (event_type) for the running sum of the flag.
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("collect_set"), p)
    assert(n == 2, s"expected the two window shuffles, got $n:\n$p")
  }

  test("q92 MERGE apply: one full-outer join on the key, no nested loop") {
    val p = plan("q92_merge_upsert")
    // the apply is a single co-keyed join (how Delta executes MERGE);
    // compaction shuffles only the change log
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q93 interval join: binned equi-join, never a nested loop") {
    val p = plan("q93_interval_join")
    // the entire point: the range predicate rides an equi-join on the hour
    // bin as a residual — a nested-loop/cartesian plan would be the
    // O(points × intervals) shape this entry exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("p52 source overlap: pair generation is an equi-join on h, no cross product") {
    val p = plan("p52_source_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q96 multi-aggregate pivot: pre-aggregate on (user,type), pivot over the collapsed frame") {
    val p = plan("q96_pivot_multi_agg")
    // Spark's multi-measure pivot strategy: ONE partial+final pass
    // collapses raw events to (user_id, event_type) rows, then pivotfirst
    // runs over that already-tiny frame — the raw data is scanned and
    // shuffled once per key-pair, never once per pivot column
    assert(p.contains("pivotfirst"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 4, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, p)
  }

  test("q97 tuple-IN plans as one left-semi join co-keyed on both columns") {
    val p = plan("q97_multicol_in")
    assert(p.contains("LeftSemi"), p)
    assert(p.linesIterator.exists(l => l.contains("LeftSemi")
      && l.contains("l_orderkey") && l.contains("l_suppkey")), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q94 FILTER-clause aggregates fold into one aggregate pass") {
    val p = plan("q94_filter_clause_agg")
    // five filtered aggregates + two plain ones ride the SAME partial+final
    // HashAggregate pair — one pass over lineitem, one 3-group shuffle
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q99 interval sweep: day-sized windows are month-partitioned; only the per-month prefix is global") {
    val p = plan("q99_interval_sweep")
    // p43's distributed prefix-sum shape on time: the day-level running
    // sum is a window PARTITIONED on the month bucket...
    assert(p.contains("Exchange hashpartitioning(bucket"), p)
    // ...and the only single-partition stage is the exclusive prefix over
    // the per-MONTH table (~85 rows), whose offsets broadcast back
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1, p)
    assert(p.contains("BroadcastHashJoin [bucket"), p)
    // never the naive day explode or a BETWEEN spine join
    assert(!p.contains("Generate") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q100 temporal expansion is a pure map-side generate — no join after the interval build") {
    val p = plan("q100_temporal_expand")
    // sequence()+explode runs as Generate directly over the aggregated
    // intervals; the month rollup is partial+final (map-side combined)
    assert(p.contains("Generate explode"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("p61 water-filling: global window only over the per-source table, demand rollup map-side partial") {
    val p = plan("p61_water_filling")
    // the sorted-prefix fill runs on the |sources|-row aggregate — its
    // single-partition exchanges are bounded by source count, never the
    // corpus; the corpus-sized demand rollup is partial+final on source
    assert(p.contains("Exchange hashpartitioning(source"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q101 scalar subqueries decorrelate to aggregate joins — never a per-row subquery") {
    val p = plan("q101_scalar_subqueries")
    // both correlated scalars become LEFT OUTER aggregate joins
    // (broadcast-sized here); an un-decorrelated plan would carry a
    // ScalarSubquery into the projection
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p56 dedup funnel: one content shuffle + label join, no candidate pairs beyond the shared keeper set") {
    val p = plan("p56_dedup_funnel")
    // the funnel itself adds only the exact-content rollup and the label
    // join — near-dup pair generation lives in the SHARED keeper cache,
    // so the funnel plan reads labels, it does not re-mine pairs
    assert(p.contains("hashpartitioning(text"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p62/p63 media decode: shuffle-free map stages — only the final sort exchanges") {
    // the encode→decode codec pipeline must stay per-row map work: no
    // join, no aggregate, no hash shuffle; the single rangepartitioning
    // exchange belongs to the presentation orderBy
    for (name <- Seq("p62_multimodal_png_decode", "p63_multimodal_wav_decode")) {
      val p = plan(name)
      assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(p.linesIterator.count(_.contains("Exchange")) == 1, p)
    }
  }

  test("p67 IVF recall audit: IVF assignment stays map-side, exact baseline broadcasts queries") {
    val p = plan("p67_ivf_recall")
    // same invariant as p14: the nearest-centroid argmax is map-side
    // (no exchange keyed on vec_id); windows are only per-query top-5
    // ranks, partitioned on q_id — never a corpus-wide sort
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    assert(p.contains("Exchange hashpartitioning(q_id"), p)
    // both candidate joins broadcast the bounded query sample; the corpus
    // never shuffles to meet the queries
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p68 shard manifest rides p43's distributed prefix-sum: bucket-partitioned windows, one bounded global stage") {
    val p = plan("p68_shard_manifest")
    assert(p.contains("Exchange hashpartitioning(bucket"), p)
    // the ONLY single-partition stage is the exclusive prefix over the
    // per-BUCKET table (#buckets rows); the checksum adds no extra pass —
    // poly_hash is folded into the same projection feeding the shard rollup
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1, p)
    assert(p.contains("BroadcastHashJoin [bucket"), p)
    assert(p.contains("poly_hash"), p)
  }

  test("p71 compaction: manifest fold adds one bounded rollup, same single global stage as p68") {
    val p = plan("p71_shard_compaction")
    assert(p.contains("Exchange hashpartitioning(bucket"), p)
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1, p)
    assert(p.contains("BroadcastHashJoin [bucket"), p)
  }

  test("p72 ablation: flag joins keyed on doc_id/h over shared structures, no pair blow-up") {
    val p = plan("p72_filter_ablation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the contamination probe broadcasts the bench set; flag assembly is
    // doc_id-keyed joins — no exchange on anything corpus-pair-shaped
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("p73 manifest diff: bucket-keyed manifests joined on bucket, no doc-level join") {
    val p = plan("p73_manifest_diff")
    // the diff compares LEDGERS: the only joins are the broadcast 1-row
    // max (nested-loop over IdentityBroadcastMode — one row, by design)
    // and the bucket-keyed full-outer manifest join — never a
    // doc_id-keyed comparison of the two snapshots (that is p65's job)
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(p.contains("hashpartitioning(_groupingexpression"), p) // bucket rollups
    assert(!p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("IdentityBroadcastMode"), p) // the 1-row max side
  }

  test("p74 review queue: top-k is TakeOrderedAndProject over the shared scored pairs, no global sort") {
    val p = plan("p74_pair_review_queue")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p69 incremental IVF: assignment is map-side math against broadcast centroids, rollups keyed on cell") {
    val p = plan("p69_ivf_incremental")
    // neither the standing corpus nor the ingest batch shuffles on vec_id;
    // the only exchanges are the k-cell occupancy rollups + their join
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    assert(!p.contains("Window ["), p) // argmax via nearestSeeds, not a 16N window
    assert(p.contains("Exchange hashpartitioning(part"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p70 PQ distortion: encode+audit is one map stage per subspace, rollup keyed on (sub, code)") {
    val p = plan("p70_pq_distortion")
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    assert(!p.contains("Window ["), p)
    assert(p.contains("Exchange hashpartitioning(sub"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q104 bucketed join: co-located SMJ and per-key rollup run with NO orderkey exchange") {
    val p = plan("q104_bucketed_join")
    // both scans read the bucketed tables (SelectedBucketsCount appears),
    // the fact-fact join is sort-merge over co-located buckets, and
    // neither the join nor the per-order aggregate shuffles on orderkey —
    // the ONLY exchange is the 5-row priority rollup
    assert(p.contains("SelectedBucketsCount"), p)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
      !p.contains("Exchange hashpartitioning(l_orderkey"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(!p.contains("BroadcastHashJoin"), p) // the no-broadcast regime is the point
  }

  test("q105: adaptive execution splits the hot-key shuffle partition (skew=true in the final plan)") {
    // the entry returns a materialized frame (AQE confs are scoped to its
    // execution), so inspect the SAME frame executed under the same confs
    QueriesCore.withConfs(spark, QueriesCore.skewConfs: _*) {
      val df = QueriesCore.aqeSkewJoinFrame(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p)
      assert(p.contains("skew=true"), p)
      assert(p.contains("SortMergeJoin"), p)
    }
  }

  test("q106: fact scan carries a dynamic partition-pruning filter (27 of 30 day dirs never opened)") {
    val p = plan("q106_dynamic_partition_pruning")
    // the day set is runtime-computed, so pruning must be DYNAMIC: the
    // partitioned fact scan's PartitionFilters carries the
    // dynamicpruningexpression fed by the broadcast dim values
    assert(p.contains("dynamicpruningexpression"), p)
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
