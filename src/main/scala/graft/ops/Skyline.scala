package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto frontier, minimize–minimize): the points no other
  * point beats on BOTH axes — "cheapest AND earliest", "smallest AND
  * best-scoring" — the multi-objective shortlist operator (SKYLINE OF in
  * the literature). A point p survives iff no q has q.x ≤ p.x ∧ q.y ≤ p.y
  * with strict inequality on at least one axis; exact duplicates of a
  * frontier point all survive (no strict edge) and report as one row with
  * their count.
  *
  * Distributed shape (never all-pairs, no global window):
  *   1. tie-collapse groupBy (x, y) with counts, then per-x min(y) — only
  *      the lowest y at each x can be on the frontier;
  *   2. range-repartition the per-x frame by x, per-partition EXCLUSIVE
  *      running min of y (window partitioned by partition id);
  *   3. per-partition y-minima (≤#partitions rows) collect to the driver,
  *      exclusive-prefix-min, broadcast back — a point survives iff its y
  *      is strictly below the least of (its partition's exclusive running
  *      min, every earlier partition's min).
  * The same bounded-barrier contract as [[RangeScan.prefix]]: the only
  * collect is ≤#partitions rows. It stays a scan of its own because it
  * needs a prefix MIN, not an exact sum: folding it into `prefix` would
  * make the shared scan branch on its combiner.
  *
  * Output: (x, y, n_rows) ordered by x ascending (y strictly decreasing
  * along the frontier). Maximize an axis by negating it in the caller.
  */
object Skyline {

  def skyline2d(df: DataFrame, x: Column, y: Column,
      partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val pts = df.select(x.cast("double").as("x"), y.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy("x", "y").agg(count(lit(1)).as("n_rows"))
    val perX = pts.groupBy("x").agg(min(col("y")).as("ymin"))
      .repartitionByRange(partitions, col("x"))
      .sortWithinPartitions("x")
      .withColumn("__pid", spark_partition_id())
    val snap = Snapshot.eager(perX)
    val partMins = snap.groupBy("__pid").agg(min(col("ymin")).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1)
    if (partMins.isEmpty)
      return pts.select(col("x"), col("y"), col("n_rows")).limit(0)
    // exclusive prefix min per partition id: the best y seen in any
    // EARLIER partition (None for the first — nothing precedes it)
    val prefix = partMins.scanLeft((0, Option.empty[Double])) {
      case ((_, acc), (pid, m)) =>
        (pid, Some(acc.fold(m)(math.min(_, m))))
    }
    val offs = partMins.map(_._1).zip(prefix.map(_._2))
    import spark.implicits._
    val offDf = offs.toSeq.toDF("__pid", "__pref")
    // exclusive running min inside the partition (null on its first row);
    // least() skips nulls, so the combined bound is null only for the
    // globally first x — which is always on the frontier
    val wPrev = Window.partitionBy("__pid").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    snap.join(broadcast(offDf), "__pid")
      .withColumn("__bound", least(min(col("ymin")).over(wPrev), col("__pref")))
      .filter(col("__bound").isNull || col("ymin") < col("__bound"))
      .select(col("x"), col("ymin").as("y"))
      .join(pts, Seq("x", "y"))
      .select(col("x"), col("y"), col("n_rows"))
      .orderBy("x")
  }
}
