package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed rank + running sum in a total order — the scaffold behind
  * gini/lorenz/ABC-style concentration operators, which all need
  * `row_number() OVER (ORDER BY …)` plus `SUM(v) OVER (ORDER BY … ROWS
  * UNBOUNDED PRECEDING)` over a frame that SCALES WITH DATA (per-user,
  * per-item). The naive global ordered window funnels every row through
  * one task; this keeps the data distributed (the [[DenseId]] /
  * Drift.ecdfTable pattern):
  *
  *   1. range-repartition + in-partition sort on the order key;
  *   2. per-partition row counts and value totals (one tiny keyed
  *      aggregate, ≤#partitions rows) collect to the driver, prefix-sum
  *      into exclusive offsets, broadcast back;
  *   3. rank = row offset + per-partition `row_number`, running sum =
  *      value offset + per-partition running sum — the windows are
  *      PARTITIONED by partition id, never global.
  *
  * The order key must be a total order (ties broken by a unique column)
  * for deterministic results — same contract as any distributed sort.
  * `value` is summed as DECIMAL(38,6): exact for integer masses and for
  * money-scale decimals, and every caller consumes the cumulative sum as
  * a double ratio anyway.
  */
object Ranked {

  private val PID = "__graft_rcs_pid"
  private val V = "__graft_rcs_v"
  private val ROFF = "__graft_rcs_roff"
  private val SOFF = "__graft_rcs_soff"

  /** Adds to `df`: `__rank` (1-based, long, in `orderCols` order), `__cum`
    * (inclusive running sum of `value`, decimal(38,6)), `__n` (total row
    * count, long) and `__tot` (grand total of `value`, decimal(38,6)).
    * `__n`/`__tot` are plain columns (null on no rows only vacuously —
    * an empty input yields an empty output).
    */
  def withRankCumSum(df: DataFrame, orderCols: Seq[Column],
      value: Column): DataFrame = {
    val spark = df.sparkSession
    val snapshot0 = df.withColumn(V, value.cast("decimal(38,6)"))
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn(PID, spark_partition_id())
    // eager snapshot: traversed twice (offset totals, then the ranked
    // pass) — pins one partition layout for both and cuts lineage
    val snap = Snapshot.eager(snapshot0)
    val partials = snap.groupBy(col(PID))
      .agg(count(lit(1)).as("c"), sum(col(V)).as("s"))
      .collect()
      .map { r =>
        (r.getInt(0), r.getLong(1),
          Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO))
      }
      .sortBy(_._1)
    val n = partials.map(_._2).sum
    val tot = partials.map(_._3)
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    var accC = 0L
    var accS = java.math.BigDecimal.ZERO
    val offs = partials.map { case (pid, c, s) =>
      val o = (pid, accC, accS)
      accC += c; accS = accS.add(s)
      o
    }
    import spark.implicits._
    val offDf = offs.toSeq.toDF(PID, ROFF, SOFF)
      .withColumn(SOFF, col(SOFF).cast("decimal(38,6)"))
    val wLocal = Window.partitionBy(PID).orderBy(orderCols: _*)
    val wRun = wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    snap.join(broadcast(offDf), PID)
      .withColumn("__rank",
        (col(ROFF) + row_number().over(wLocal)).cast("bigint"))
      .withColumn("__cum",
        (col(SOFF) + sum(col(V)).over(wRun)).cast("decimal(38,6)"))
      .withColumn("__n", lit(n))
      .withColumn("__tot", lit(tot).cast("decimal(38,6)"))
      .drop(PID, V, ROFF, SOFF)
  }
}
