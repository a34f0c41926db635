package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup decision operators: turn near-duplicate PAIR lists (the output
  * shape of the p01-p04 dedup family) into per-document keep/drop
  * decisions.
  *
  * Duplicates chain — a~b and b~c without a~c — so pairwise dropping either
  * over- or under-deletes; the correct operator is connected components
  * over the pair graph with a deterministic keeper per component.
  */
object Dedup {

  /** Connected components by iterative min-label propagation (Pregel-style).
    *
    * Input: `pairs(id_a, id_b)` — undirected duplicate pairs (any order,
    * duplicates tolerated). Output: `(doc_id, keeper_id, kept)` — one row
    * per id appearing in any pair; `keeper_id` = min id of the component,
    * `kept` = this id is the keeper.
    *
    * Each round is one edges⋈labels join plus a min-aggregate, converging
    * in O(diameter) rounds; dedup components are small and dense, so the
    * diameter is tiny in practice. Lineage is truncated per round with
    * `localCheckpoint`. At 100 TB the loop runs with edges bucketed by
    * `src` (the join key never changes); for adversarial long-chain graphs
    * the alternating large-star/small-star variant bounds rounds at
    * O(log n) with the identical join shape.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("id_a", "id_b")
    // materialize the edge set ONCE — every propagation round joins against
    // it, and without this the (possibly expensive) pair-producing pipeline
    // upstream would re-execute per round — and PRE-PARTITIONED on `dst`,
    // the join key of every round (optimization r15, guide §2.4): the
    // checkpointed LogicalRDD retains its hash partitioning, so no round
    // re-shuffles the edge set; only the (smaller) label frame moves. This
    // is the local realization of the documented 100 TB design ("edges
    // bucketed by the join key"). The explicit partition count keeps AQE
    // from coalescing the exchange (a coalesced width would no longer match
    // downstream joins and reintroduce the per-round edge shuffle).
    val session = pairs.sparkSession
    val edgeParts = session.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = p
      .unionAll(p.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
      .repartition(edgeParts, col("dst"))
      .localCheckpoint()
    // initial labels FUSE the first propagation round: keeper₀ =
    // min(id, min(neighbors)) in one aggregation over the symmetric edge
    // set (every id appears as src). Identity labels + a propagation round
    // compute exactly this, so starting here saves one full round of
    // join + aggregate + checkpoint
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("keeper"))
      .select(col("src").as("id"), col("keeper"))
    var labelBlocks: Option[org.apache.spark.rdd.RDD[_]] = None
    var converged = false
    while (!converged) {
      val viaNeighbor = edges
        .join(labels.select(col("id").as("dst"), col("keeper")), "dst")
        .select(col("src").as("id"), col("keeper"))
      // the previous label rides the SAME aggregate as the new one (null
      // from the neighbor side — min() skips nulls, and every id has
      // exactly one labels row, so `old` is exactly the prior keeper):
      // convergence is then a filter over the just-materialized blocks
      // instead of a per-round join job (optimization r15 — one fewer
      // shuffle join per round, locally and at scale)
      val keeperType = labels.schema("keeper").dataType
      val next = labels.select(col("id"), col("keeper"), col("keeper").as("old"))
        .unionAll(viaNeighbor.select(col("id"), col("keeper"),
          lit(null).cast(keeperType).as("old")))
        .groupBy(col("id"))
        .agg(min(col("keeper")).as("keeper"), min(col("old")).as("old"))
        .localCheckpoint()
      // null `old` must read NOT-converged (ADVICE r15): today it is
      // unreachable (labels seed from the full symmetric edge set, so every
      // viaNeighbor id has a labels row and min(old) is its prior keeper),
      // but a future seeding change must loop another round rather than
      // silently terminate early with wrong components.
      converged = next.filter(col("old").isNull || col("keeper") =!= col("old")).isEmpty
      // `next` is materialized (eager localCheckpoint) and the convergence
      // check above has consumed the previous round — its cached blocks are
      // dead from here on; drop them instead of letting rounds accumulate
      labelBlocks.foreach(_.unpersist(blocking = false))
      labelBlocks = checkpointBlocks(next)
      labels = next.select(col("id"), col("keeper"))
    }
    // the edge set is only needed during propagation, not by the result
    checkpointBlocks(edges).foreach(_.unpersist(blocking = false))
    labels.select(col("id").as("doc_id"), col("keeper").as("keeper_id"),
      (col("id") === col("keeper")).as("kept"))
  }

  /** Connected components by alternating large-star/small-star rounds —
    * the O(log n)-round variant (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") for adversarial long-chain graphs where plain
    * min-propagation needs O(diameter) rounds. Same output contract as
    * [[connectedComponents]] (property-tested equal); each round is two
    * groupBy-min + join passes over the shrinking edge list.
    *
    * large-star: every node's strictly-larger neighbors re-attach to
    * m = min(Γ(u) ∪ {u}); small-star: every node's smaller-or-equal
    * neighbors (and the node) re-attach to its minimum neighbor. The edge
    * set converges to stars centered at component minima.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("id_a", "id_b")
    var edges = p.filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct().localCheckpoint()
    val allIds = p.select(col("id_a").as("id"))
      .unionAll(p.select(col("id_b").as("id"))).distinct().localCheckpoint()
    var edgeBlocks = checkpointBlocks(edges)
    var converged = false
    while (!converged) {
      // large-star over the symmetric view: (v, m) for v ∈ Γ(u), v > u,
      // m = min(Γ⁺(u)) — strictly-larger neighbors hook onto the minimum
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      val ls = sym.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star over the (u > v) orientation: u and its smaller
      // neighbors all hook onto min(Γ<(u))
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .select(explode(array(
          struct(col("u").as("a"), col("m").as("b")),
          struct(col("v").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      converged = ss.unionAll(edges).groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("c")).filter(col("c") === 1).isEmpty
      edgeBlocks.foreach(_.unpersist(blocking = false))
      edgeBlocks = checkpointBlocks(ss)
      edges = ss
    }
    // allIds and the final edges stay persisted: the returned (lazy) plan
    // reads both — only intermediate rounds' blocks were droppable
    val labels = allIds
      .join(edges.select(col("u").as("id"), col("v").as("keeper")), Seq("id"), "left")
      .select(col("id"), coalesce(col("keeper"), col("id")).as("keeper"))
    labels.select(col("id").as("doc_id"), col("keeper").as("keeper_id"),
      (col("id") === col("keeper")).as("kept"))
  }

  /** The cached blocks behind an eager `localCheckpoint()`: its plan is a
    * [[org.apache.spark.sql.execution.LogicalRDD]] wrapping the persisted
    * RDD. Checkpoint caching is RDD-level, so `Dataset.unpersist()` (which
    * only consults the SQL cache manager) cannot release it — the RDD
    * handle can.
    */
  private def checkpointBlocks(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Release EVERY localCheckpoint block a result plan still reads (the
    * final labels of [[connectedComponents]]; `allIds` + the converged
    * edges of [[connectedComponentsStar]]). For owners — caches, engines —
    * discarding the result: a locally-checkpointed RDD has truncated
    * lineage, so after this call the DataFrame is NOT recomputable and
    * must not be used again.
    */
  def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(r => graft.util.Cleanup.quietly(r.unpersist(blocking = false)))
}
