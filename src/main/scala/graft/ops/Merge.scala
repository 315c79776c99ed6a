package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Commit

/** MERGE INTO emulation (upsert + delete in one pass) for plain-parquet
  * targets — the operation the reference performs row-at-a-time with
  * `INSERT OR IGNORE` / status `UPDATE` (scraper.py's link-store writes),
  * expressed as ONE full-outer equi-join:
  *
  *   - matched & deleteWhen        -> row removed
  *   - matched                     -> WHEN MATCHED THEN UPDATE SET *
  *                                    (source values win; per-column
  *                                    overrides via `updates`)
  *   - source-only & insertWhen    -> WHEN NOT MATCHED THEN INSERT *
  *   - target-only                 -> row carried through unchanged
  *
  * Scale shape: a single shuffle on the merge key (or none, when the
  * target is bucketed on the key — io/Bucketing.scala). At 100 TB the
  * rewrite is narrowed to touched partitions: join source against the
  * partition-pruned slice of the target, rewrite only those partitions
  * atomically (io.Commit.overwriteLeaves is the committer). AQE
  * handles a skewed merge key; no driver-side state.
  */
object Merge {

  private val TP = "__graft_t_present"
  private val SP = "__graft_s_present"

  /** Column refs for writing `updates` / `deleteWhen` / `insertWhen`
    * predicates: `Merge.t("c")` is the target's value, `Merge.s("c")` the
    * source's.
    */
  def t(c: String): Column = col(s"t.$c")
  def s(c: String): Column = col(s"s.$c")

  /** Merge `source` into `target` on equality of `keys`.
    *
    * `source` must carry every target column (UPDATE SET * / INSERT *
    * semantics); `updates` overrides individual matched-row columns with
    * an expression over `Merge.t`/`Merge.s` refs. Keys are compared with
    * `===`, so a null-key source row never matches and falls to the INSERT
    * branch — pre-filter null keys if that is not the intent.
    *
    * CONTRACT: source keys must be UNIQUE. SQL MERGE raises on a target
    * row matched by multiple source rows; this emulation would instead
    * silently fan each matched target row out into one output row per
    * duplicate (and duplicate the inserts). Callers that cannot guarantee
    * uniqueness upstream (UpsertSink pre-collapses per key, so it can)
    * should pass `requireUniqueSource = true`: a plan-embedded guard (one
    * window count on the merge key, no extra driver action) that fails the
    * job with the offending key instead of diverging. The guard lives in
    * the output row projection, so it fires on any real materialization
    * (write/collect); a bare `count()` prunes all columns and skips it.
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
      updates: Map[String, Column] = Map.empty,
      insertWhen: Column = lit(true),
      deleteWhen: Column = lit(false),
      requireUniqueSource: Boolean = false): DataFrame = {
    val outCols = target.columns.toSeq
    require(keys.nonEmpty && keys.forall(outCols.contains),
      s"merge keys $keys must be target columns")
    require(outCols.forall(source.columns.contains),
      s"source must carry every target column; missing " +
        outCols.filterNot(source.columns.contains).mkString(", "))

    // The guard lives INSIDE the SP marker column (which the matched /
    // source-only predicates consume), so column pruning cannot optimize
    // the raise_error away — a dropped side-channel column would be.
    val spCol =
      if (!requireUniqueSource) lit(true)
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
        when(count(lit(1)).over(w) > 1, raise_error(concat(
          lit("merge: duplicate source rows for key ("),
          concat_ws(",", keys.map(k => col(k).cast("string")): _*),
          lit(")"))).cast("boolean"))
          .otherwise(lit(true))
      }

    val tt = target.withColumn(TP, lit(true)).alias("t")
    val ss = source.withColumn(SP, spCol).alias("s")
    val cond = keys.map(k => t(k) === s(k)).reduce(_ && _)

    val matched = col(TP).isNotNull && col(SP).isNotNull
    val sourceOnly = col(TP).isNull

    val merged = tt.join(ss, cond, "full_outer")
      .filter(!(matched && coalesce(deleteWhen, lit(false))))
      .filter(!(sourceOnly && !coalesce(insertWhen, lit(true))))
    val projected = outCols.map { c =>
      when(matched, updates.getOrElse(c, s(c)))
        .when(sourceOnly, s(c))
        .otherwise(t(c))
        .as(c)
    }
    merged.select(projected: _*)
  }

  /** Partition-narrowed MERGE into a parquet target partitioned by
    * `partCol` (written with `.partitionBy(partCol)`): the 100 TB shape the
    * header describes. Only the partitions the SOURCE touches are read
    * (partition pruning at file listing — the untouched N-k partitions are
    * never scanned) and only those are rewritten (per-partition atomic dir
    * swap — untouched partitions' files are never opened, moved, or
    * re-written, so their modification identity is preserved).
    *
    * Contract: `partCol` must be STABLE under the merge key — a matched
    * source row must carry the same `partCol` value as its target row
    * (standard partitioned-MERGE caveat: a key that "moves" partitions
    * would leave its old row in an untouched partition). ENFORCED for any
    * move between two touched partitions by a plan-embedded `raise_error`
    * in the matched output projection (see [[mergePartitionedPlan]]); a
    * move FROM an untouched partition is undetectable without an
    * O(target) key scan — that narrower case stays a caller contract,
    * exactly the trade every partition-pruned MERGE makes. The touched
    * partition-value list is collected to the driver — bounded by the
    * partition count, the same ≤#partitions barrier as any dynamic
    * partition overwrite. Hive-style dir naming (`partCol=value`) is used
    * verbatim; keep partition values path-safe.
    */
  def mergePartitioned(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, source: DataFrame, keys: Seq[String], partCol: String,
      updates: Map[String, Column] = Map.empty,
      insertWhen: Column = lit(true),
      deleteWhen: Column = lit(false)): Unit = {
    val (touched, merged) = mergePartitionedPlan(spark, targetDir, source,
      keys, partCol, updates, insertWhen, deleteWhen)
    if (touched.nonEmpty)
      Commit.overwriteLeaves(spark, targetDir, touched.map(v => s"$partCol=$v"))(
        merged.write.partitionBy(partCol).parquet(_))
  }

  /** The read+merge plan of [[mergePartitioned]] without the write, exposed
    * so plan guards (PlanSpec) can assert the touched-partition `isin`
    * filter actually reaches the target scan's PartitionFilters — the
    * property that keeps the read O(touched), not O(target), at 100 TB.
    */
  private[graft] def mergePartitionedPlan(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, source: DataFrame, keys: Seq[String], partCol: String,
      updates: Map[String, Column] = Map.empty,
      insertWhen: Column = lit(true),
      deleteWhen: Column = lit(false)): (Seq[Any], DataFrame) = {
    require(source.columns.contains(partCol), s"source must carry $partCol")
    // sorted: distinct() order is nondeterministic, and a stable touched
    // list keeps the pruning predicate (and the rename loop's log order)
    // identical across retries
    val touched = source.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq.sortBy(_.toString)
    if (touched.isEmpty) return (touched, source.limit(0))

    // heal a crashed prior swap loop before the read
    require(Commit.exists(spark, targetDir), s"mergePartitioned: no target at $targetDir")
    val target = spark.read.parquet(targetDir)
    val slice = target.filter(col(partCol).isin(touched: _*))
    // Plan-embedded enforcement of the partCol-stability contract (same
    // technique as the uniqueness guard in `merge`): the matched branch of
    // the output projection raises when a matched key carries a different
    // partition value on the two sides — a "moved" key would otherwise
    // silently strand its old row in an untouched partition. Overriding the
    // partCol entry of `updates` puts the check in a column the partitioned
    // write always materializes, so pruning cannot drop it. Null-safe
    // compare: a null partCol on one side is also a move.
    val guardedUpdates = updates + (partCol -> {
      val base = updates.getOrElse(partCol, s(partCol))
      when(!(t(partCol) <=> s(partCol)), raise_error(concat(
        lit(s"mergePartitioned: matched key moved partitions ($partCol="),
        t(partCol).cast("string"), lit(" -> "), s(partCol).cast("string"),
        lit(") for key ("),
        concat_ws(",", keys.map(k => s(k).cast("string")): _*), lit(")"))))
        .otherwise(base)
    })
    (touched, merge(slice, source, keys, guardedUpdates, insertWhen, deleteWhen))
  }
}
