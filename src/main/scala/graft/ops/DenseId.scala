package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dense sequential id assignment (0..n-1 in a given total order) — the
  * surrogate-key generator for dimension builds.
  *
  * The naive formulation is `row_number() OVER (ORDER BY …)` — a single
  * global-sort partition, the canonical scale killer. This implementation
  * keeps the data distributed:
  *
  *   1. range-repartition + in-partition sort on the order key (Spark's
  *      sampled RangePartitioner — same machinery as a distributed sort);
  *   2. per-partition local ordinals fall out of
  *      `monotonically_increasing_id`'s layout (partition id << 33 | local
  *      row index, assigned AFTER the sort in the same stage);
  *   3. per-partition row counts (one tiny keyed aggregate, ≤#partitions
  *      rows) prefix-sum into start offsets on the driver and broadcast
  *      back; dense_id = offset(partition) + local index.
  *
  * The order key must be a total order (unique) for the result to be
  * deterministic — same contract as any distributed sort-rank.
  */
object DenseId {

  private val P = "__graft_pid"
  private val M = "__graft_mid"

  def withDenseId(df: DataFrame, orderCols: Seq[String],
      out: String = "dense_id"): DataFrame = {
    // eager snapshot, not persist: the frame is traversed twice (counts,
    // then the id projection) and the snapshot both guarantees the two
    // passes see identical partition layouts and cuts the lineage instead
    // of leaving a cache entry behind. The snapshot IS the returned frame,
    // so it cannot be reclaimed in-function (see [[Snapshot]]).
    val sorted = Snapshot.eager(df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .withColumn(P, spark_partition_id())
      .withColumn(M, monotonically_increasing_id()))

    // Per-partition counts AND the local-ordinal extrema in one aggregate.
    // The extrema are a layout guard: local index = low 33 bits of
    // monotonically_increasing_id relies on MonotonicallyIncreasingID's
    // (partitionId << 33 | rowIndex) encoding — documented behavior since
    // Spark 1.6 and pinned here for 4.x, but an internal re-layout in a
    // future release must FAIL loudly, not silently corrupt every id. A
    // partition of cnt rows must see local indices exactly [0, cnt-1].
    val localIdx = col(M).bitwiseAND(lit((1L << 33) - 1))
    val counts = sorted.groupBy(col(P))
      .agg(count(lit(1)).as("cnt"), min(localIdx).as("lo"), max(localIdx).as("hi"))
      .collect()
      .map { r =>
        val (pid, cnt, lo, hi) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
        require(lo == 0L && hi == cnt - 1,
          s"monotonically_increasing_id layout changed: partition $pid has " +
            s"$cnt rows but local indices span [$lo, $hi] (expected [0, ${cnt - 1}])")
        pid -> cnt
      }.sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, cnt)) =>
      (pid, acc + cnt)
    }.tail.zip(counts).map { case ((pid, end), (_, cnt)) => pid -> (end - cnt) }.toMap

    // literal map lookup (not a when-chain: stays O(1) per row and keeps
    // the expression tree flat at any partition count)
    val offsetExpr = element_at(typedlit(offsets), col(P))
    // local index = low 33 bits of monotonically_increasing_id
    sorted
      .withColumn(out, offsetExpr + (col(M).bitwiseAND(lit((1L << 33) - 1))))
      .drop(P, M)
  }
}
