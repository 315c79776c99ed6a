package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-shape statistics beyond centrality (ops/PageRank): triangle
  * counting — the clustering-structure number behind community detection
  * and co-occurrence-graph audits ("do co-bought parts form cliques or
  * chains?").
  */
object Graphs {

  /** Exact global triangle count of an UNDIRECTED graph given as (src,
    * dst) edge rows (direction, duplicates and self-loops are cleaned
    * first). Returns ONE row (n_nodes, n_edges, n_triangles).
    *
    * Scale shape — the classic degree-peeling orientation: each undirected
    * edge is oriented from its (degree, id)-SMALLER endpoint to the larger,
    * so every triangle is generated exactly once as a wedge at its
    * lowest-degree corner and the per-vertex wedge fan-out is bounded by
    * the graph arboricity (a hub of degree d contributes d wedges as a
    * spoke, not d² as a center — the node-ordered join would square the
    * hub). Three keyed shuffles: the wedge self-join on the center, the
    * closing-edge equi join on the canonical (u, v) pair, one count.
    */
  def triangleCount(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val canonRaw = edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    // snapshot: canon feeds degrees, both wedge legs, and the closing join
    val canon = Snapshot.eager(canonRaw)
    val deg = canon.select(col("u").as("n")).unionAll(canon.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    // orient: from the (degree, id)-smaller endpoint to the larger
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(least(col("e1.t"), col("e2.t")).as("u"),
        greatest(col("e1.t"), col("e2.t")).as("v"))
    val tris = wedges.join(canon, Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("bigint").as("n_edges"))
    nodes.crossJoin(tris)
  }

  /** BOUNDED-ROUND k-core peel of an undirected graph: `rounds` fixed
    * iterations of "drop every node of degree < k, then every edge that
    * lost an endpoint", reporting (round, n_nodes, n_edges) per round
    * (round 0 = the cleaned input graph). The k-core fixpoint is the
    * limit; fixing the round count makes the operator DETERMINISTIC and
    * replayable as `rounds` chained SQL CTEs (q278's oracle) — the same
    * fixed-iteration contract the power-iteration PCA and Lloyd quantizer
    * use — and on most graphs a handful of rounds reaches the fixpoint
    * (the spec pins a converged example; the output shows convergence as
    * consecutive equal rows).
    *
    * Scale shape: each round is one map-side-combined degree aggregate +
    * two semi joins of the edge set against the ≤|V| surviving-node table
    * — keyed shuffles only, no all-pairs anything. Each round's edge set
    * is snapshotted (reliable checkpoint when a checkpoint dir is set,
    * else localCheckpoint) so round r+1 reads a materialized relation
    * instead of re-deriving rounds 1..r — the lineage rule every
    * iterative operator here follows (PageRank, connected components).
    */
  def kCorePeel(edges: DataFrame, src: Column, dst: Column, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1,32], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    var cur = Snapshot.eager(edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct())
    def endpoints(e: DataFrame): DataFrame =
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    // r15 (guide §1.2 — fewer sequential driver barriers): both counts of
    // a round come from ONE stacked aggregate job over the two
    // materialized snapshots instead of two count() jobs — the peel is
    // barrier-bound at local scale (4 jobs/round → 3), and a count over a
    // snapshot only scans cached blocks, so stacking loses nothing.
    def counts2(aDf: DataFrame, bDf: DataFrame): (Long, Long) = {
      val r = aDf.select(lit(1L).as("__a"), lit(0L).as("__b"))
        .unionAll(bDf.select(lit(0L).as("__a"), lit(1L).as("__b")))
        .agg(sum(col("__a")), sum(col("__b"))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    out += { val (n0, e0) = counts2(endpoints(cur).distinct(), cur)
      (0, n0, e0) }
    var r = 1
    while (r <= rounds) {
      // r14: snapshot the survivor set — `keep` was referenced three times
      // per round (the count and BOTH semi joins), re-running the degree
      // aggregate each time; and broadcast it into the semi joins so the
      // edge table is never shuffled during a peel (keep is node-scale,
      // the PageRank/HITS broadcast-score budget).
      val keep = Snapshot.eager(endpoints(cur).groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("n"))
      cur = Snapshot.eager(cur
        .join(broadcast(keep.select(col("n").as("u"))), Seq("u"), "left_semi")
        .join(broadcast(keep.select(col("n").as("v"))), Seq("v"), "left_semi")
        .select("u", "v"))
      out += { val (nKept, nEdges) = counts2(keep, cur)
        (r, nKept, nEdges) }
      r += 1
    }
    out.toSeq.toDF("round", "n_nodes", "n_edges")
  }
}
