package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the domain-authority signal a web-corpus
  * curation pipeline mixes into quality scores (harmonic-centrality /
  * PageRank weighting a la Common Crawl ranking releases).
  *
  * Pregel shape per iteration: contributions = ranks ⋈ out-degrees on the
  * source key (one shuffle, co-partitioned with the edge list), then a
  * keyed sum on the destination. Rank state lives in a DataFrame — nothing
  * on the driver but N (node count, one count() barrier up front).
  *
  * Cross-engine determinism: per-edge contributions are rounded to 12
  * decimals then summed as DECIMAL(28,12) (order-independent); each new
  * rank is re-rounded to 12 decimals. Fixed iteration count — this is the
  * bounded-step batch variant, not convergence-tested (the curation use
  * case wants a stable signal, not a fixpoint certificate).
  */
object PageRank {

  /** `edges`: (src: string, dst: string) directed edges, pre-deduplicated.
    * Every node must have out-degree ≥ 1 (undirected graphs: emit both
    * directions); dangling-mass redistribution is intentionally out of
    * scope. Returns (node, rank) with rank rounded to 12 decimals.
    *
    * `broadcastRanks` (default true) broadcasts the |V|-row rank table
    * into the edge scan so each iteration's only shuffle is the dst-keyed
    * contribution sum — right whenever the node set fits the broadcast
    * budget (domain-authority graphs: ~1e6-1e7 nodes × ~30 B). For
    * node sets at edge scale, pass false: the src join falls back to a
    * shuffle equi-join on co-partitioned keys.
    */
  /** Checkpoint cadence: every `CheckpointEvery` iterations the rank frame
    * is materialized and its lineage cut. Without this the plan nests one
    * join+aggregate per iteration and analysis/codegen time grows
    * superlinearly (the iterative-DataFrame trap); with it, plan depth is
    * bounded by the cadence regardless of iteration count.
    */
  private[graft] val CheckpointEvery = 5

  def run(edges: DataFrame, iterations: Int, damping: Double = 0.85,
      broadcastRanks: Boolean = true): DataFrame = {
    // a long run keeps at most two checkpoint dirs alive (current +
    // in-flight), not one per cadence tick; the FINAL checkpoint is the
    // caller's result and is never deleted here
    val ckpt = new Snapshot.Rolling(edges.sparkSession)
    // persisted: the node set re-enters the plan every iteration (rank
    // re-base + teleport join); without the cache each iteration re-scans
    // and re-distincts the edge list
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst")))
      .distinct()
      .persist()
    val n = nodes.count() // driver barrier: a scalar, like any agg gate
    val teleport = (1.0 - damping) / n

    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // edges ⋈ deg is loop-invariant: compute once, reuse every iteration.
    // Pre-partitioned BY DST (r14, guide §2.4 "share one exchange"): every
    // iteration's only data-sized operation is the dst-keyed contribution
    // sum, so paying the dst hash partitioning ONCE in the cached table
    // lets each iteration's HashAggregate consume the cache's partitioning
    // with NO per-iteration Exchange — iterations×1 edge-list shuffles
    // drop to 1 (the rank-side join was already broadcast/co-partitioned).
    val edgesDeg = edges.join(outDeg, "src")
      .repartition(col("dst"))
      .persist()

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iterations) {
      val rankSide = ranks.withColumnRenamed("node", "src")
      val contrib = edgesDeg
        .join(if (broadcastRanks) broadcast(rankSide) else rankSide, "src")
        .select(col("dst").as("node"),
          round(col("rank") / col("deg"), 12).cast("decimal(28,12)").as("c"))
      val sums = contrib.groupBy("node")
        .agg(sum(col("c")).cast("double").as("in_mass"))
      // under broadcastRanks the |V|-row sums table fits the same budget
      // as the rank broadcast — the teleport re-base join then needs no
      // shuffle of either side (nodes is cached, sums is broadcast)
      ranks = nodes.join(
          if (broadcastRanks) broadcast(sums) else sums, Seq("node"), "left")
        .select(col("node"),
          round(lit(teleport) + lit(damping) * coalesce(col("in_mass"), lit(0.0)),
            12).as("rank"))
      if (i % CheckpointEvery == 0 && i < iterations) ranks = ckpt(ranks)
    }
    // eager checkpoint: materializes the final ranks once, cuts the
    // residual lineage (a caller's count+collect would replay it), and
    // lets the loop-invariant caches release instead of leaking
    val out = ckpt(ranks)
    nodes.unpersist(blocking = false)
    edgesDeg.unpersist(blocking = false)
    out
  }
}
