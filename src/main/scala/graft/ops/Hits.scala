package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities over a directed edge list — the link-analysis
  * complement to [[PageRank]]: PageRank scores global endorsement flow,
  * HITS separates "points at good things" (hub) from "is pointed at by
  * good hubs" (authority). On a bipartite graph (part→supplier,
  * query→document) the two sides get the two scores directly — the shape
  * a curation pipeline uses to rate link aggregators vs link targets.
  *
  * Pregel shape per iteration: h(u) = Σ_{u→v} a(v), then a(v) = Σ_{u→v}
  * h(u), each followed by an L1 normalization (sum-to-one; the classic
  * L2 norm is replaced by L1 so the oracle needs no sqrt — relative order
  * is unchanged, and the fixed-iteration batch variant wants a stable
  * signal, not the eigenvector's exact scaling). Each half-iteration is
  * ONE shuffle (the keyed sum on the opposite endpoint); score tables
  * join into the edge scan by broadcast when they fit (`broadcastScores`),
  * falling back to a co-partitioned equi-join.
  *
  * Cross-engine determinism (the PageRank contract): scores are rounded
  * to 12 decimals each step, per-edge contributions sum as
  * DECIMAL(28,12) (order-independent), normalization divides in double
  * AFTER the exact decimal totals.
  */
object Hits {

  /** `edges`: (src: string, dst: string) directed, pre-deduplicated.
    * Returns the stacked score table (side ∈ 'hub'|'auth', node, score):
    * every node with out-edges gets a hub row, every node with in-edges
    * an authority row.
    */
  def run(edges: DataFrame, iterations: Int = 2,
      broadcastScores: Boolean = true): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    // eager snapshot, not persist/unpersist: the edge frame is scanned
    // 2·iterations times (each half-iteration joins it) and the returned
    // plan is evaluated AFTER run() exits, so a deferred persist paired
    // with an immediate unpersist would never materialize — the snapshot
    // materializes once here and needs no lifecycle management
    val spark = edges.sparkSession
    val e = Snapshot.eager(edges.select(col("src"), col("dst")))

    // r14 (guide §1.2 "the distributed algorithm" / §5 caching): each raw
    // score table is SNAPSHOT before normalizing. l1Normalize references its
    // input twice (once under the broadcast total, once in the output rows),
    // and each half-iteration's input embeds the previous one — without the
    // snapshot the lazy tree re-evaluates every earlier join+aggregate
    // 2^(half-iterations) times (the q223 plan was 184 KB of nested
    // ReusedExchange candidates; measured 5.6 s → see OPTIMIZATION_r14.md).
    // A snapshot is |V| rows — bounded, the PageRank ckpt discipline —
    // and (r15, the round-14 advice finding) superseded reliable-checkpoint
    // dirs are deleted as soon as the same ROLE's next snapshot
    // materializes, so a long run keeps at most one hub and one auth dir
    // alive instead of leaking 2×iterations dirs. The final hub/auth
    // snapshots back the returned plan and are never deleted here.
    val snapHub, snapAuth = new Snapshot.Rolling(spark)
    def l1Normalize(df: DataFrame, score: String): DataFrame = {
      val tot = df.agg(
        sum(col(score).cast("decimal(28,12)")).cast("double").as("__tot"))
      df.crossJoin(broadcast(tot))
        .select(col("node"), round(col(score) / col("__tot"), 12).as(score))
    }
    def side(df: DataFrame, key: String): DataFrame = {
      val renamed = df.withColumnRenamed("node", key)
      if (broadcastScores) broadcast(renamed) else renamed
    }

    var auth = e.select(col("dst").as("node")).distinct()
      .withColumn("a", lit(1.0))
    var hub: DataFrame = null
    for (_ <- 1 to iterations) {
      val hRaw = snapHub(e.join(side(auth, "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("a").cast("decimal(28,12)")).cast("double").as("h")))
      hub = l1Normalize(hRaw, "h")
      val aRaw = snapAuth(e.join(side(hub, "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("h").cast("decimal(28,12)")).cast("double").as("a")))
      auth = l1Normalize(aRaw, "a")
    }
    hub
      .select(lit("hub").as("side"), col("node"), col("h").as("score"))
      .union(auth.select(lit("auth").as("side"), col("node"),
        col("a").as("score")))
  }
}
