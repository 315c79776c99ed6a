package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.Commit
import graft.ops.Merge

/** Streaming upsert sink: `foreachBatch` + MERGE (ops/Merge.scala) into a
  * parquet target, idempotent under micro-batch replay — the exactly-once
  * recipe for plain-file sinks (checkpointed source offsets give at-least-
  * once batch delivery; an idempotent batch apply upgrades it).
  *
  * Idempotence holds because each batch is (a) collapsed to one row per
  * key before merging (last per key by `orderCol` with a key tie-break,
  * so intra-batch arrival order doesn't matter) and (b) applied with MERGE
  * semantics — re-applying the same batch rewrites identical rows. Target
  * state after a replay equals state after a single delivery.
  *
  * Scale shape: one full-outer join per batch on the merge key (the same
  * plan the batch MERGE operator produces); the atomic target swap is the
  * HDFS/S3A-safe temp-dir commit (io.Commit.overwrite). At
  * 100 TB the target is partitioned and the join+rewrite narrows to the
  * partitions the batch touches.
  */
object UpsertSink {

  /** Apply one micro-batch to the parquet target at `targetDir`. A pure
    * function of (target state, batch) — unit-testable and replay-safe.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, targetDir: String,
      keys: Seq[String], orderCol: String): Unit = {
    if (batch.isEmpty) return
    // Tie-break on the NON-key columns: the keys are the window's partition
    // columns, so ordering by them is a no-op — two rows with the same key
    // and same orderCol would be picked nondeterministically across a
    // replay, breaking idempotence. Ordering by every remaining column
    // (name-sorted for stability) makes the pick a pure function of the
    // batch's row SET, independent of arrival order. Non-orderable payload
    // types (e.g. map) can't appear in a sort order — those order by a
    // stable hash of their JSON form instead of failing analysis.
    val fieldTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    val tieBreak = batch.columns.toSeq
      .filterNot(c => keys.contains(c) || c == orderCol)
      .sorted.map { c =>
        if (org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(fieldTypes(c))) col(c).asc_nulls_first
        else xxhash64(to_json(col(c))).asc
      }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc +: tieBreak: _*)
    val latest = batch.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1).drop("__graft_rn")

    // Commit.exists rolls forward/back any commit interrupted by a crash
    // BEFORE reading: a missing target must never be mistaken for an empty
    // store (that would silently rebuild from this batch alone)
    val target =
      if (Commit.exists(spark, targetDir)) spark.read.parquet(targetDir)
      else latest.filter(lit(false))
    Commit.overwrite(spark, targetDir)(Merge.merge(target, latest, keys).write.parquet(_))
  }

  /** Wire a streaming frame into the sink (AvailableNow: drain-and-stop,
    * the batch-triggered incremental pattern; pass a different trigger at
    * call sites that run continuously).
    */
  def attach(stream: DataFrame, targetDir: String, checkpointDir: String,
      keys: Seq[String], orderCol: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch.sparkSession, batch, targetDir, keys, orderCol)
      }
      .start()
}
